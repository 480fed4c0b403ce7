"""Quantized / product-quantized search: exactness of the integer
contract (each operator equals an exact integer brute force, and the
two scalar encodes agree bit for bit), recall gates vs the float
brute-force tier, and the PQ→re-rank economics."""

from __future__ import annotations

from contextlib import nullcontext

import pytest
from pyspark.sql import functions as F

from kafka_sparkstreaming_sbt_spark.operators.quantize import (
    _quantize_numpy,
    ivf_pq_topk,
    pq_codebooks,
    pq_encode,
    pq_rerank,
    pq_topk,
    quantization_scale,
    quantize_embeddings,
    quantized_topk,
)
from kafka_sparkstreaming_sbt_spark.operators.similarity import cosine_topk
from kafka_sparkstreaming_sbt_spark.sources.batch import read_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF, "embeddings").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 20)


def _assert_smallest_tied(rows, tied) -> None:
    """``rows`` are (query_id, neighbor_id, score, rank) tuples of a
    k=2 search over ``tied.df``: each tied query's neighbors, in rank
    order, are the two smallest tied ids."""
    for q in tied.query_ids:
        got = [n for _, n in sorted((r[3], r[1]) for r in rows if r[0] == q)]
        assert got == tied.smallest(q, 2)


def _codes(df, scale, bits=8) -> dict:
    """id -> scalar codes from the SQL encode (zero vectors dropped)."""
    out = quantize_embeddings(df, bits=bits, scale=scale).collect()
    return {r[0]: r[1] for r in out if r[1] is not None}


def _sqdist(a, b) -> int:
    return sum((x - y) ** 2 for x, y in zip(a, b))


def _books(codebooks) -> dict:
    return {(r.subspace, r.code): r.c_codes for r in codebooks.collect()}


def _pq_dist(books: dict, qv, pq_codes) -> int:
    """Integer ADC distance of scalar codes ``qv`` to a PQ code row."""
    d = len(qv) // len(pq_codes)
    return sum(
        _sqdist(qv[m * d:(m + 1) * d], books[m, c])
        for m, c in enumerate(pq_codes)
    )


def _brute_topk(queries: dict, corpus: dict, score, k: int, asc: bool):
    """Exact integer top-k as sorted (query, neighbor, score, rank)
    rows: self-matches excluded, ties on the smaller neighbor id."""
    sign = 1 if asc else -1
    rows = []
    for q, qv in queries.items():
        ranked = sorted(
            (sign * score(qv, v), n) for n, v in corpus.items() if n != q
        )[:k]
        rows += [(q, n, sign * d, r) for r, (d, n) in enumerate(ranked, 1)]
    return sorted(rows)


def _recall(approx_df, exact_df) -> float:
    a: dict = {}
    e: dict = {}
    for r in approx_df.collect():
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in exact_df.collect():
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hit = sum(len(a.get(q, set()) & e[q]) for q in e)
    return hit / sum(len(v) for v in e.values())


def test_codes_bounded_and_norm_consistent(emb):
    out = quantize_embeddings(emb).collect()
    assert len(out) == emb.count()
    for r in out[:50]:
        assert all(-127 <= c <= 127 for c in r["codes"])
        assert r["int_norm"] == sum(c * c for c in r["codes"])


def test_corpus_scale_grid_is_tight(emb):
    s = quantization_scale(emb).first()["q_scale"]
    # unit components, so the realized max is < 1 and > 0 — the grid
    # actually uses the int range instead of wasting it on headroom
    assert 0.0 < s < 1.0
    codes = quantize_embeddings(emb)
    maxc = codes.agg(
        F.max(F.array_max(F.transform(F.col("codes"), F.abs)))
    ).first()[0]
    assert maxc == 127  # some component sits on the grid edge


def test_query_side_clamps_to_corpus_grid(spark, emb):
    # a vector with a component far beyond the corpus scale must clamp,
    # not overflow the grid
    big = spark.createDataFrame(
        [(99999, [100.0] + [0.001] * 63)], "vec_id long, embedding array<float>"
    )
    out = quantize_embeddings(
        big, scale=quantization_scale(emb)
    ).first()
    assert max(out["codes"]) == 127


def test_quantized_topk_matches_integer_brute_force(
    emb, queries, tied_vectors
):
    """Equal to an exact integer brute force over the SQL encode on the
    fixture corpus and on the exact-tie input at k=2 in 4-row Arrow
    batches, where tied copies come back as the smallest ids."""
    tied = tied_vectors
    for corpus, qs, k, batches in (
        (emb, queries, 10, nullcontext()),
        (tied.df, tied.queries, 2, tied.small_batches()),
    ):
        scale = quantization_scale(corpus)
        want = _brute_topk(
            _codes(qs, scale), _codes(corpus, scale),
            lambda a, b: sum(x * y for x, y in zip(a, b)), k, asc=False,
        )
        with batches:
            got = sorted(
                map(tuple, quantized_topk(corpus, qs, k=k).collect())
            )
        assert got == want
    _assert_smallest_tied(got, tied)


def test_quantized_topk_recall_vs_float(emb, queries):
    exact = cosine_topk(emb, queries, k=10, method="numpy")
    approx = quantized_topk(emb, queries, k=10)
    assert _recall(approx, exact) >= 0.9  # measured 0.975 at sf0.1


def test_pq_encode_codes_in_range(emb):
    books = pq_codebooks(emb, n_subspaces=4, n_codes=16)
    enc = pq_encode(emb, books)
    rows = enc.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert len(r["pq_codes"]) == 4
        assert all(0 <= c < 16 for c in r["pq_codes"])


def _assert_pq_encode_is_integer_argmin(emb, bits) -> None:
    """``pq_encode`` (NumPy GEMM argmin) equals, per subspace, the
    nearest codebook entry by integer squared L2 over the SQL encode's
    codes, ties on the smaller code."""
    scale = quantization_scale(emb)
    cb = pq_codebooks(emb, n_subspaces=4, n_codes=16, bits=bits)
    books = _books(cb)

    def nearest(sub, m):
        return min(range(16), key=lambda c: _sqdist(sub, books[m, c]))

    want = sorted(
        (i, tuple(nearest(v[16 * m:16 * m + 16], m) for m in range(4)))
        for i, v in _codes(emb, scale, bits).items()
    )
    got = sorted(
        (r["vec_id"], tuple(r["pq_codes"]))
        for r in pq_encode(emb, cb, bits=bits).collect()
    )
    assert got == want


def test_pq_encode_sql_numpy_bit_identical(emb):
    _assert_pq_encode_is_integer_argmin(emb, bits=8)


def test_pq_encode_wide_grid_still_bit_identical(emb):
    """``bits=16`` pushes the distance bound past the f32-exact window,
    so the GEMM must fall through to f64 (or int64) and stay exact."""
    _assert_pq_encode_is_integer_argmin(emb, bits=16)


def test_pq_topk_matches_integer_brute_force(emb, queries, tied_vectors):
    """Equal to exact integer ADC distances over the encoded corpus on
    the fixture corpus and on the exact-tie input at k=2 in 4-row
    Arrow batches, where tied copies come back as the smallest ids."""
    tied = tied_vectors
    for corpus, qs, k, batches in (
        (emb, queries, 10, nullcontext()),
        (tied.df, tied.queries, 2, tied.small_batches()),
    ):
        cb = pq_codebooks(corpus, n_subspaces=4, n_codes=16)
        scale = quantization_scale(corpus)
        enc = pq_encode(corpus, cb)
        books = _books(cb)
        want = _brute_topk(
            _codes(qs, scale),
            {r["vec_id"]: r["pq_codes"] for r in enc.collect()},
            lambda qv, pq: _pq_dist(books, qv, pq), k, asc=True,
        )
        with batches:
            got = sorted(
                map(tuple, pq_topk(enc, qs, cb, scale, k=k).collect())
            )
        assert got == want
    _assert_smallest_tied(got, tied)


def test_kmeans_books_beat_deterministic_on_candidate_recall(emb, queries):
    """The quality ladder that justifies the kmeans tier: trained
    codebooks must dominate md5-picked ones on candidate recall."""
    exact = cosine_topk(emb, queries, k=10, method="numpy")
    scale = quantization_scale(emb)

    def cand_recall(method):
        books = pq_codebooks(
            emb, n_subspaces=8, n_codes=64, method=method
        )
        enc = pq_encode(emb, books)
        c = pq_topk(enc, queries, books, scale, k=100)
        return _recall(c, exact)

    km, det = cand_recall("kmeans"), cand_recall("deterministic")
    assert km >= det
    assert km >= 0.85  # top-100 candidate pool holds the true top-10


def test_pq_rerank_recovers_float_recall(emb, queries):
    """ADC top-C + exact re-rank ≫ raw ADC top-k — the refine-stage
    economics the docstring claims."""
    exact = cosine_topk(emb, queries, k=10, method="numpy")
    books = pq_codebooks(emb, n_subspaces=8, n_codes=64, method="kmeans")
    scale = quantization_scale(emb)
    enc = pq_encode(emb, books)
    raw = pq_topk(enc, queries, books, scale, k=10)
    cand = pq_topk(enc, queries, books, scale, k=100)
    refined = pq_rerank(cand, emb, queries, k=10)
    r_raw, r_ref = _recall(raw, exact), _recall(refined, exact)
    assert r_ref >= r_raw
    assert r_ref >= 0.85
    # the re-ranked list is ordered by exact cosine
    first = refined.filter(F.col("rank") == 1).collect()
    assert all(r["cosine"] <= 1.0 for r in first)


def test_ivf_pq_recall_gate(emb, queries):
    exact = cosine_topk(emb, queries, k=10, method="numpy")
    cand = ivf_pq_topk(
        emb, queries, k=100, n_subspaces=8, n_codes=64, seed=42
    )
    refined = pq_rerank(cand, emb, queries, k=10)
    assert _recall(refined, exact) >= 0.7  # cells prune candidates too


def test_dim_mismatch_raises(spark, emb):
    books = pq_codebooks(emb, n_subspaces=4, n_codes=8)
    bad = spark.createDataFrame(
        [(1, [0.5] * 60)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="n_subspaces"):
        pq_encode(bad, books, scale=quantization_scale(emb)).collect()


def test_indivisible_subspaces_raises(emb):
    with pytest.raises(ValueError, match="divisible"):
        pq_codebooks(emb, n_subspaces=7)


def test_zero_vector_quantizes_to_null_and_is_dropped(spark, emb):
    z = spark.createDataFrame(
        [(7, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    out = quantize_embeddings(z, scale=quantization_scale(emb)).first()
    assert out["codes"] is None
    both = emb.unionByName(z, allowMissingColumns=True)
    top = quantized_topk(both, both.filter(F.col("vec_id") < 3), k=5)
    assert top.filter(F.col("neighbor_id") == 7).count() == 0


def test_quantize_sql_numpy_bit_identical(spark, emb):
    """The Arrow encode's per-dimension sequential norm must reproduce
    the SQL fold exactly — including the zero-vector NULL contract."""
    z = spark.createDataFrame(
        [(99998, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    both = emb.unionByName(z, allowMissingColumns=True)
    scale = quantization_scale(emb)

    def norm(df):
        return sorted(
            (
                r["vec_id"],
                tuple(r["codes"]) if r["codes"] is not None else None,
                r["int_norm"],
            )
            for r in df.collect()
        )

    a = norm(quantize_embeddings(both, scale=scale))
    b = norm(_quantize_numpy(both, "embedding", "vec_id", 8, scale))
    assert a == b


def test_removed_tier_keywords_raise(emb):
    """The integer operators have one path; a tier keyword is an
    error, not silently ignored."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        kmeans_centroids,
    )

    for call in (
        lambda: quantization_scale(emb, method="sql"),
        lambda: quantize_embeddings(emb, method="numpy"),
        lambda: quantized_topk(emb, emb, method="sql"),
        lambda: pq_encode(emb, None, method="sql"),
        lambda: pq_topk(emb, emb, None, 1.0, method="sql"),
        lambda: kmeans_centroids(emb, assign_method="sql"),
    ):
        with pytest.raises(TypeError):
            call()
