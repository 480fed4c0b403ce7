"""Quantized / product-quantized search: exactness of the integer
contract (SQL tier == NumPy tier bit-for-bit), recall gates vs the
float brute-force tier, and the PQ→re-rank economics."""

from __future__ import annotations

from contextlib import nullcontext

import pytest
from pyspark.sql import functions as F

from kafka_sparkstreaming_sbt_spark.operators.quantize import (
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

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


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


def test_quantized_topk_sql_numpy_bit_identical(
    emb, queries, tied_vectors
):
    """Both tiers agree bit for bit on the fixture corpus and on the
    exact-tie input at k=2 in 4-row Arrow batches, where tied copies
    come back as the smallest ids."""
    tied = tied_vectors
    for corpus, qs, k, batches in (
        (emb, queries, 10, nullcontext()),
        (tied.df, tied.queries, 2, tied.small_batches()),
    ):
        with batches:
            a = sorted(
                map(tuple, quantized_topk(corpus, qs, k=k).collect())
            )
            b = sorted(
                map(
                    tuple,
                    quantized_topk(
                        corpus, qs, k=k, method="numpy"
                    ).collect(),
                )
            )
        assert a == b  # integer arithmetic: no float-tie caveat
    _assert_smallest_tied(a, tied)


def test_quantized_topk_recall_vs_float(emb, queries):
    exact = cosine_topk(emb, queries, k=10, method="numpy")
    approx = quantized_topk(emb, queries, k=10, method="numpy")
    assert _recall(approx, exact) >= 0.9  # measured 0.975 at sf0.1


def test_pq_encode_codes_in_range(emb):
    books = pq_codebooks(emb, n_subspaces=4, n_codes=16)
    enc = pq_encode(emb, books)
    rows = enc.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert len(r["pq_codes"]) == 4
        assert all(0 <= c < 16 for c in r["pq_codes"])


def test_pq_encode_sql_numpy_bit_identical(emb):
    books = pq_codebooks(emb, n_subspaces=4, n_codes=16)
    a = sorted(
        (r["vec_id"], tuple(r["pq_codes"]))
        for r in pq_encode(emb, books).collect()
    )
    b = sorted(
        (r["vec_id"], tuple(r["pq_codes"]))
        for r in pq_encode(emb, books, method="numpy").collect()
    )
    assert a == b  # int argmin, same smaller-code tie-break


def test_pq_topk_sql_numpy_bit_identical(emb, queries, tied_vectors):
    """Both tiers agree bit for bit on the fixture corpus and on the
    exact-tie input at k=2 in 4-row Arrow batches, where tied copies
    come back as the smallest ids."""
    tied = tied_vectors
    for corpus, qs, k, batches in (
        (emb, queries, 10, nullcontext()),
        (tied.df, tied.queries, 2, tied.small_batches()),
    ):
        books = pq_codebooks(corpus, n_subspaces=4, n_codes=16)
        scale = quantization_scale(corpus)
        enc = pq_encode(corpus, books)
        with batches:
            a = sorted(
                map(
                    tuple, pq_topk(enc, qs, books, scale, k=k).collect()
                )
            )
            b = sorted(
                map(
                    tuple,
                    pq_topk(
                        enc, qs, books, scale, k=k, method="numpy"
                    ).collect(),
                )
            )
        assert a == b
    _assert_smallest_tied(a, tied)


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
        c = pq_topk(enc, queries, books, scale, k=100, method="numpy")
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
    raw = pq_topk(enc, queries, books, scale, k=10, method="numpy")
    cand = pq_topk(enc, queries, books, scale, k=100, method="numpy")
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
    """The Arrow tier's per-dimension sequential norm must reproduce
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
    b = norm(quantize_embeddings(both, scale=scale, method="numpy"))
    assert a == b


def test_pq_encode_wide_grid_still_bit_identical(emb):
    """bits=16 pushes the distance bound past the f32-exact window:
    the GEMM dispatch must fall through to f64 (or int64) and stay
    bit-identical to the SQL struct-min argmin."""
    books16 = pq_codebooks(emb, n_subspaces=4, n_codes=16, bits=16)
    a = sorted(
        (r["vec_id"], tuple(r["pq_codes"]))
        for r in pq_encode(emb, books16, bits=16).collect()
    )
    b = sorted(
        (r["vec_id"], tuple(r["pq_codes"]))
        for r in pq_encode(
            emb, books16, bits=16, method="numpy"
        ).collect()
    )
    assert a == b
