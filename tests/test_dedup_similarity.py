"""Semantic checks for the dedup/similarity extensions — beyond the
oracle parity tests: recall against brute force, fingerprint
properties, LSH bucketing behavior."""

from __future__ import annotations

from contextlib import nullcontext

from pyspark.sql import functions as F

from kafka_sparkstreaming_sbt_spark.operators.dedup_fuzzy import (
    cap_hot_buckets,
    jaccard,
    minhash_near_dup_pairs,
    minhash_signatures,
    with_shingles,
)
from kafka_sparkstreaming_sbt_spark.operators.similarity import (
    cosine_topk,
    lsh_bucket,
    lsh_near_pairs,
)
from kafka_sparkstreaming_sbt_spark.operators.text import (
    doc_fingerprints,
    exact_dedup_groups,
)
from kafka_sparkstreaming_sbt_spark.sources.batch import read_table


def test_minhash_recall_vs_brute_force(spark, sf_small):
    """MinHash+LSH (8 bands) must recover every brute-force pair with
    Jaccard >= 0.5 on the planted near-dups (expected recall at
    j>=0.5 with 8 single-row bands is 1-(1-j)^8 >= 0.996; the planted
    pairs are ~0.98 so missing any is a bug, not variance)."""
    docs = read_table(spark, sf_small, "documents")
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_dup_pairs(docs, threshold=0.5).collect()
    }
    sh = with_shingles(docs).select("doc_id", "shingles")
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb"))
    brute = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jaccard(F.col("sa"), F.col("sb")).alias("j"))
        .filter(F.col("j") >= 0.5)
    )
    want = {(r.doc_a, r.doc_b) for r in brute.collect()}
    assert want, "test data should contain planted near-dup pairs"
    assert got == want


def test_exact_dedup_total_preserved(spark, sf_small):
    """Dedup groups partition the corpus: sum(n_copies) == row count
    and keep_doc_id is a member of each group."""
    docs = read_table(spark, sf_small, "documents")
    groups = exact_dedup_groups(docs)
    assert groups.agg(F.sum("n_copies")).first()[0] == docs.count()
    assert groups.filter(F.col("n_copies") < 1).count() == 0


def test_fingerprints_exact_dup_sensitivity(spark):
    """Identical text -> identical fp_md5 AND fp_shingle; one changed
    word -> fp_md5 differs while fp_shingle may or may not (it is a
    near-dup key)."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox leaps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in doc_fingerprints(df).collect()}
    assert rows[1].fp_md5 == rows[2].fp_md5
    assert rows[1].fp_shingle == rows[2].fp_shingle
    assert rows[1].fp_md5 != rows[3].fp_md5


def test_cosine_topk_is_exact_and_ranked(spark, sf_small):
    """Brute-force top-k: k rows per query, ranks 1..k, cosine
    non-increasing within a query, self excluded."""
    emb = read_table(spark, sf_small, "embeddings")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=10).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, 11))
        assert all(r.neighbor_id != q for r in rows)
        cosines = [r.cosine for r in rows]
        assert cosines == sorted(cosines, reverse=True)


def test_lsh_bucket_deterministic_and_partitioning(spark, sf_small):
    """Same seed -> same buckets; every vector lands in exactly one
    bucket of the right width."""
    emb = read_table(spark, sf_small, "embeddings")
    b1 = lsh_bucket(emb, dim=64, n_bits=8, seed=42)
    b2 = lsh_bucket(emb, dim=64, n_bits=8, seed=42)
    assert b1.select("vec_id", "bucket").subtract(
        b2.select("vec_id", "bucket")
    ).count() == 0
    assert b1.filter(F.length("bucket") != 8).count() == 0
    assert b1.count() == emb.count()


def test_lsh_near_pairs_subset_of_brute_force(spark, sf_small):
    """LSH-bucketed pairs are sound (every reported pair really has
    cosine >= threshold) — completeness is probabilistic by design."""
    emb = read_table(spark, sf_small, "embeddings")
    pairs = lsh_near_pairs(emb, dim=64, threshold=0.4, n_bits=4).collect()
    assert all(r.cosine >= 0.4 and r.id_a < r.id_b for r in pairs)


def _boilerplate_corpus(spark):
    """Adversarial corpus: 20% of docs are copies of one template (all
    their LSH buckets are hot), plus one planted near-dup pair and
    distinct filler docs."""
    template = "terms of service apply to every page of this site always"
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows = [(i, template) for i in range(20)]
    rows += [(100, near_a), (101, near_b)]
    rows += [
        (
            200 + i,
            " ".join(f"w{i}x{j}" for j in range(10)),  # token-disjoint
        )
        for i in range(78)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_incremental_near_dup_screens_batch_only(spark):
    """Daily-ingest dedup: only new-vs-corpus matches are reported —
    corpus-internal and batch-internal near-dups are NOT this
    operator's job (the corpus was already deduped; the batch gets the
    full pairwise pass separately if wanted)."""
    from kafka_sparkstreaming_sbt_spark.operators.dedup_fuzzy import (
        incremental_near_dup,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),  # corpus-internal near-dup of 1
            (3, "totally different corpus content words here now ok"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (100, base + " lambda"),  # near-dup of corpus 1 and 2
            (101, base + " lambda mu"),  # batch-internal dup of 100
            (102, "unique fresh text with its own vocabulary entirely"),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r.new_doc_id, r.dup_of): r.jaccard
        for r in incremental_near_dup(new, corpus, threshold=0.5).collect()
    }
    assert set(out) >= {(100, 1), (100, 2), (101, 1)}
    # every reported pair is new-vs-corpus, never internal
    assert all(n >= 100 and c < 100 for n, c in out)
    assert all(0.5 <= j <= 1.0 for j in out.values())


def test_hot_bucket_cap_bounds_candidates_and_keeps_cold_pairs(spark):
    """VERDICT r2 #2: with max_bucket_size, the 20%-of-corpus
    boilerplate bucket is dropped BEFORE the quadratic join (its 190
    intra-template pairs disappear — the documented recall tradeoff),
    while pairs living in cold buckets are untouched."""
    docs = _boilerplate_corpus(spark)

    uncapped = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_dup_pairs(docs, threshold=0.5).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_dup_pairs(
            docs, threshold=0.5, max_bucket_size=10
        ).collect()
    }
    template_pairs = {(a, b) for a in range(20) for b in range(20) if a < b}
    assert template_pairs <= uncapped and (100, 101) in uncapped
    # every hot-bucket pair gone, the planted cold pair survives
    assert capped & template_pairs == set()
    assert (100, 101) in capped
    # capping never invents pairs
    assert capped <= uncapped


def test_cap_hot_buckets_drops_only_over_cap(spark):
    docs = _boilerplate_corpus(spark)
    sigs = minhash_signatures(with_shingles(docs)).select(
        "doc_id", F.xxhash64("band", "sig").alias("bs")
    )
    capped = cap_hot_buckets(sigs, "bs", 10, log_dropped=True)
    sizes = capped.groupBy("bs").count().agg(F.max("count")).first()[0]
    assert sizes <= 10
    # cold docs keep all their band rows
    n_bands_kept = (
        capped.filter(F.col("doc_id") >= 200)
        .groupBy("doc_id")
        .count()
        .agg(F.min("count"))
        .first()[0]
    )
    assert n_bands_kept == 8


def test_lsh_near_pairs_hot_bucket_cap(spark, sf_small):
    """Embedding-side cap: over-cap buckets contribute no pairs and
    the result stays a subset of the uncapped output."""
    emb = read_table(spark, sf_small, "embeddings")
    uncapped = {
        (r.id_a, r.id_b)
        for r in lsh_near_pairs(emb, dim=64, threshold=0.4, n_bits=2).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in lsh_near_pairs(
            emb, dim=64, threshold=0.4, n_bits=2, max_bucket_size=50
        ).collect()
    }
    assert capped <= uncapped


def test_metadata_row_count_survives_private_api_breakage(spark, monkeypatch):
    """_metadata_row_count reaches into the private _jdf stats API;
    if a Spark upgrade breaks it, sizing must degrade to the footer
    path / None fallback instead of raising an opaque Py4J error."""
    from kafka_sparkstreaming_sbt_spark.operators import similarity as sim

    df = spark.createDataFrame([(1,)], "x long")

    class Boom:
        def __getattr__(self, name):
            raise RuntimeError("private API gone")

    monkeypatch.setattr(df, "_jdf", Boom(), raising=False)
    assert sim._metadata_row_count(df) is None


def test_semantic_dedup_matches_per_cell_brute_force(spark, sf_small):
    import numpy as np

    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        deterministic_centroids,
        semantic_dedup,
    )
    from kafka_sparkstreaming_sbt_spark.sources.batch import read_table

    emb = read_table(spark, sf_small, "embeddings")
    cent = deterministic_centroids(emb, n_cells=16)
    out = semantic_dedup(emb, cent, threshold=0.4).collect()
    # exactly one verdict per corpus row
    assert len(out) == emb.count()
    assert len({r.vec_id for r in out}) == len(out)

    # brute-force reference: within each emitted cell, a row is dropped
    # iff a smaller-id row of the SAME cell has cosine >= threshold
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    cells: dict[int, list[int]] = {}
    for r in out:
        cells.setdefault(r.cell_id, []).append(r.vec_id)
    verdict = {}
    for members in cells.values():
        for i in sorted(members):
            vi = vecs[i]
            dropped = any(
                round(
                    float(vecs[j] @ vi)
                    / (np.linalg.norm(vecs[j]) * np.linalg.norm(vi)),
                    6,
                )
                >= 0.4
                for j in sorted(members)
                if j < i
            )
            verdict[i] = not dropped
    assert {r.vec_id: r.kept for r in out} == verdict


def test_semantic_dedup_with_kmeans_quantizer(spark, sf_small):
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        kmeans_centroids,
        semantic_dedup,
    )
    from kafka_sparkstreaming_sbt_spark.sources.batch import read_table

    emb = read_table(spark, sf_small, "embeddings")
    cent = kmeans_centroids(emb, n_cells=8, n_iter=1)
    out = semantic_dedup(emb, cent, threshold=0.4)
    total = emb.count()
    rows = out.collect()
    assert len(rows) == total
    kept = sum(1 for r in rows if r.kept)
    assert 0 < kept <= total  # never drops everything
    # rerun is byte-identical (deterministic quantizer + drop rule)
    again = semantic_dedup(emb, cent, threshold=0.4).collect()
    assert {(r.vec_id, r.cell_id, r.kept) for r in rows} == {
        (r.vec_id, r.cell_id, r.kept) for r in again
    }


def test_semantic_dedup_cell_cap_skips_pairing_but_keeps_rows(spark):
    from pyspark.sql import functions as F

    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        semantic_dedup,
    )

    # 20 identical vectors -> one cell, all mutually near-dup
    df = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    cent = spark.range(1).select(
        F.col("id").alias("cell_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("c_vec"),
    )
    uncapped = semantic_dedup(df, cent, threshold=0.9).collect()
    assert sum(1 for r in uncapped if r.kept) == 1  # min id survives
    capped = semantic_dedup(
        df, cent, threshold=0.9, max_cell_size=5
    ).collect()
    # the over-cap cell is excluded from pairing: its rows stay kept
    assert all(r.kept for r in capped)
    assert len(capped) == 20


def test_numpy_assign_and_dedup_match_sql(spark, sf_small):
    """The BLAS fast paths (``method="numpy"``) must reproduce the SQL
    paths on the fixture corpus: same cell assignment, same SemDeDup
    verdicts, same LSH pair set with 6-dp-equal cosines.  (Exact-tie
    rounding divergence is possible in principle — summation order —
    which is why oracle queries stay on "sql"; this corpus has no
    such tie and the paths must agree completely.)"""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        deterministic_centroids,
        ivf_assign,
        semantic_dedup,
    )

    emb = read_table(spark, sf_small, "embeddings")
    cent = deterministic_centroids(emb, n_cells=16)

    a_sql = {r.vec_id: r.cell_id for r in ivf_assign(emb, cent).collect()}
    a_np = {
        r.vec_id: r.cell_id
        for r in ivf_assign(emb, cent, method="numpy").collect()
    }
    assert a_sql == a_np

    d_sql = {
        r.vec_id: (r.cell_id, r.kept)
        for r in semantic_dedup(emb, cent, threshold=0.4).collect()
    }
    d_np = {
        r.vec_id: (r.cell_id, r.kept)
        for r in semantic_dedup(
            emb, cent, threshold=0.4, method="numpy"
        ).collect()
    }
    assert d_sql == d_np

    p_sql = {
        (r.id_a, r.id_b): r.cosine
        for r in lsh_near_pairs(emb, dim=64, threshold=0.4).collect()
    }
    p_np = {
        (r.id_a, r.id_b): r.cosine
        for r in lsh_near_pairs(
            emb, dim=64, threshold=0.4, method="numpy"
        ).collect()
    }
    assert set(p_sql) == set(p_np)
    assert all(abs(p_sql[k] - p_np[k]) <= 1e-6 for k in p_sql)


def test_kmeans_round_matches_numpy_lloyd_reference(spark, sf_small):
    """One FUSED BLAS Lloyd round produces the cells and means of a
    plain NumPy Lloyd round from the same seeds: memberships are
    identical (6-dp cosine argmax, smaller-cell-id ties) and the
    sum-of-partial-sums/count means agree with the member means up to
    float summation order — compared with a tolerance, not bit-exact."""
    import numpy as np

    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        kmeans_centroids,
    )

    emb = read_table(spark, sf_small, "embeddings")
    seeds = sorted(kmeans_centroids(emb, n_cells=8, n_iter=0).collect())
    cells = np.array([r.cell_id for r in seeds])
    c = np.array([r.c_vec for r in seeds], dtype=np.float64)
    v = np.array([r.embedding for r in emb.collect()], dtype=np.float64)
    vn, cn = np.linalg.norm(v, axis=1), np.linalg.norm(c, axis=1)
    cos = np.round(v @ c.T / np.outer(vn, cn), 6)
    member = cos.argmax(axis=1)  # first max: the smaller cell id
    c_ref = {
        int(cells[i]): v[member == i].mean(axis=0)
        for i in np.unique(member)
    }
    c_np = {
        r.cell_id: np.array(r.c_vec)
        for r in kmeans_centroids(emb, n_cells=8, n_iter=1).collect()
    }
    assert set(c_np) == set(c_ref)
    for cell, want in c_ref.items():
        assert np.allclose(c_np[cell], want, rtol=1e-9, atol=1e-12)


def test_numpy_cell_cap_keeps_over_cap_rows(spark):
    """The numpy SemDeDup path honors ``max_cell_size`` the same way
    the SQL path does: over-cap cells skip pairing, their rows stay
    kept."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        semantic_dedup,
    )

    df = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    cent = spark.range(1).select(
        F.col("id").alias("cell_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("c_vec"),
    )
    uncapped = semantic_dedup(
        df, cent, threshold=0.9, method="numpy"
    ).collect()
    assert sum(1 for r in uncapped if r.kept) == 1
    capped = semantic_dedup(
        df, cent, threshold=0.9, max_cell_size=5, method="numpy"
    ).collect()
    assert all(r.kept for r in capped)
    assert len(capped) == 20


def test_multi_table_lsh_lifts_recall_and_stays_exact(spark, sf_small):
    """n_tables=4: (a) table 0 shares the single-table planes, so the
    single-table pair set is a subset; (b) every emitted pair really
    clears the threshold (the verify filter is exact, so multi-table
    only adds recall, never precision loss); (c) pairs are emitted
    once despite colliding in several tables; (d) numpy == sql."""
    import numpy as np

    emb = read_table(spark, sf_small, "embeddings")
    single = {
        (r.id_a, r.id_b)
        for r in lsh_near_pairs(emb, dim=64, threshold=0.4).collect()
    }
    multi_rows = lsh_near_pairs(
        emb, dim=64, threshold=0.4, n_tables=4
    ).collect()
    multi = {(r.id_a, r.id_b) for r in multi_rows}
    assert len(multi_rows) == len(multi)  # deduplicated
    assert single <= multi
    assert len(multi) > len(single)  # extra tables actually add pairs

    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    for a, b in multi:
        cos = float(vecs[a] @ vecs[b]) / (
            np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])
        )
        assert round(cos, 6) >= 0.4

    np_multi = {
        (r.id_a, r.id_b)
        for r in lsh_near_pairs(
            emb, dim=64, threshold=0.4, n_tables=4, method="numpy"
        ).collect()
    }
    assert np_multi == multi


def test_semantic_dedup_multi_probe_only_adds_drops(spark, sf_small):
    """n_probe_cells=2: primary cell assignment is unchanged, the
    single-probe drop set is a subset of the multi-probe drop set
    (extra probes can only let MORE near pairs meet, never fewer),
    and the SQL tier refuses multi-probe (it exists to replay the
    oracle's single-probe arithmetic)."""
    import pytest

    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        kmeans_centroids,
        semantic_dedup,
    )

    emb = read_table(spark, sf_small, "embeddings")
    cent = kmeans_centroids(emb, n_cells=8, n_iter=1)
    one = {
        r.vec_id: (r.cell_id, r.kept)
        for r in semantic_dedup(
            emb, cent, threshold=0.4, method="numpy"
        ).collect()
    }
    two = {
        r.vec_id: (r.cell_id, r.kept)
        for r in semantic_dedup(
            emb, cent, threshold=0.4, method="numpy", n_probe_cells=2
        ).collect()
    }
    assert set(one) == set(two)
    for vid, (cell, kept) in one.items():
        assert two[vid][0] == cell  # primary cell unchanged
        if not kept:
            assert not two[vid][1]  # drops only grow
    assert sum(1 for _, k in two.values() if not k) >= sum(
        1 for _, k in one.values() if not k
    )

    with pytest.raises(ValueError, match="numpy"):
        semantic_dedup(emb, cent, threshold=0.4, n_probe_cells=2)


def test_centroid_block_chunking_is_invisible(spark, sf_small):
    """At C ~ sqrt(N) ~ 1e5+ cells the batch x C cosine matrix would
    be gigabytes, so the BLAS kernels score centroids in blocks with
    a running best / running top-n.  Chunking must be a pure memory
    knob: cent_block=3 (forcing many cross-block merges and ties)
    must produce byte-identical assignments and probe rankings to the
    single-block run."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        _assign_numpy,
        _assign_topn_numpy,
        deterministic_centroids,
    )

    emb = read_table(spark, sf_small, "embeddings")
    cent = deterministic_centroids(emb, n_cells=16)

    whole = {
        r.vec_id: r.cell_id
        for r in _assign_numpy(emb, cent, "embedding", "vec_id").collect()
    }
    chunked = {
        r.vec_id: r.cell_id
        for r in _assign_numpy(
            emb, cent, "embedding", "vec_id", cent_block=3
        ).collect()
    }
    assert whole == chunked

    whole_n = {
        (r.vec_id, r.probe_rank): r.cell_id
        for r in _assign_topn_numpy(
            emb, cent, "embedding", "vec_id", 3
        ).collect()
    }
    chunked_n = {
        (r.vec_id, r.probe_rank): r.cell_id
        for r in _assign_topn_numpy(
            emb, cent, "embedding", "vec_id", 3, cent_block=3
        ).collect()
    }
    assert whole_n == chunked_n


def test_cosine_topk_numpy_matches_sql(spark, sf_small, tied_vectors):
    """The BLAS top-k tier returns the identical ranked result set as
    the SQL tier on the fixture corpus — same neighbors, same ranks,
    6-dp-equal cosines (exactness of the per-batch local top-k with
    its id-ascending stable tie-break).  A second case runs the
    exact-tie input at k=2 in 4-row Arrow batches: tied copies come
    back as the smallest ids on both tiers."""
    emb = read_table(spark, sf_small, "embeddings")
    tied = tied_vectors
    for corpus, queries, k, batches in (
        (emb, emb.filter(F.col("vec_id") < 7), 10, nullcontext()),
        (tied.df, tied.queries, 2, tied.small_batches()),
    ):
        with batches:
            sql_rows = {
                (r.query_id, r.rank): (r.neighbor_id, r.cosine)
                for r in cosine_topk(corpus, queries, k=k).collect()
            }
            np_rows = {
                (r.query_id, r.rank): (r.neighbor_id, r.cosine)
                for r in cosine_topk(
                    corpus, queries, k=k, method="numpy"
                ).collect()
            }
        assert set(sql_rows) == set(np_rows)
        for key, (nid, cos) in sql_rows.items():
            assert np_rows[key][0] == nid
            assert abs(np_rows[key][1] - cos) <= 1e-6
    for q in tied.query_ids:
        got = [sql_rows[(q, r)][0] for r in (1, 2)]
        assert got == tied.smallest(q, 2)


def test_ivf_search_numpy_matches_sql(spark, sf_small, tied_vectors):
    """The cogroup BLAS IVF search returns the identical ranked rows
    as the SQL candidate-join search for the same centroids and probe
    count: probe sets share the tie-break contract, per-cell scan is
    exact, and the global rank stage is shared.  A second case runs
    the exact-tie input at k=2 in 4-row Arrow batches: tied copies
    come back as the smallest ids on both tiers."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        _ivf_search,
        deterministic_centroids,
    )

    emb = read_table(spark, sf_small, "embeddings")
    tied = tied_vectors
    for corpus, queries, k, batches in (
        (emb, emb.filter(F.col("vec_id") % 37 == 1), 10, nullcontext()),
        (tied.df, tied.queries, 2, tied.small_batches()),
    ):
        cent = deterministic_centroids(corpus, n_cells=16)
        with batches:
            sql_rows = {
                (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 6))
                for r in _ivf_search(
                    corpus, queries, cent, k, 4, search_method="sql"
                ).collect()
            }
            np_rows = {
                (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 6))
                for r in _ivf_search(
                    corpus, queries, cent, k, 4, search_method="numpy"
                ).collect()
            }
        assert sql_rows == np_rows
        assert sql_rows  # non-degenerate
    for q in tied.query_ids:
        got = [sql_rows[(q, r)][0] for r in (1, 2)]
        assert got == tied.smallest(q, 2)


def test_incremental_semantic_dedup_parity_with_full_run(spark, sf_small):
    """The daily-ingest screen must return EXACTLY the verdicts the
    full-corpus run would give the batch rows: with every batch id
    larger than every corpus id, incremental (batch vs corpus+earlier
    batch, seniors-first) and full ``semantic_dedup`` over the union
    implement the same smaller-id drop rule — byte-identical
    ``(id, cell_id, kept)`` on both tiers, at batch-proportional
    cost (VERDICT r5 #2)."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        deterministic_centroids,
        incremental_semantic_dedup,
        semantic_dedup,
    )

    emb = read_table(spark, sf_small, "embeddings")
    corpus = emb.filter(F.col("vec_id") < 350)
    batch = emb.filter(F.col("vec_id") >= 350)
    cent = deterministic_centroids(corpus, n_cells=16)
    full = {
        (r.vec_id, r.cell_id, r.kept)
        for r in semantic_dedup(emb, cent, threshold=0.4).collect()
        if r.vec_id >= 350
    }
    inc_sql = {
        (r.vec_id, r.cell_id, r.kept)
        for r in incremental_semantic_dedup(
            batch, corpus, cent, threshold=0.4
        ).collect()
    }
    inc_np = {
        (r.vec_id, r.cell_id, r.kept)
        for r in incremental_semantic_dedup(
            batch, corpus, cent, threshold=0.4, method="numpy"
        ).collect()
    }
    assert inc_sql == full
    assert inc_np == full
    # non-degenerate: the fixture batch must contain real drops
    assert any(not kept for _, _, kept in full)


def test_incremental_semantic_dedup_seniors_outrank_ids(spark):
    """Corpus members drop batch rows REGARDLESS of id order — what is
    already in the corpus is senior by arrival, not by id (the full
    run's smaller-id rule only coincides with this when batch ids are
    allocated above corpus ids)."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        incremental_semantic_dedup,
    )

    # corpus id 100 HIGHER than batch id 5, same direction vector
    corpus = spark.createDataFrame(
        [(100, [1.0, 0.0]), (0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [(5, [2.0, 0.0]), (6, [0.0, 3.0]), (7, [-1.0, -1.0])],
        "vec_id long, embedding array<double>",
    )
    cent = corpus.filter(F.col("vec_id") < 2).selectExpr(
        "vec_id AS cell_id", "embedding AS c_vec"
    )
    out = {
        r.vec_id: r.kept
        for r in incremental_semantic_dedup(
            batch, corpus, cent, threshold=0.9
        ).collect()
    }
    assert out[5] is False  # dropped by corpus id 100 despite 5 < 100
    assert out[6] is False  # dropped by corpus id 1 (cell 1)
    assert out[7] is True  # opposite direction: no near neighbor
    assert len(out) == 3  # one verdict per batch row, corpus absent


def test_incremental_semantic_dedup_multiprobe_only_adds_drops(
    spark, sf_small
):
    """Probing the batch into 2 cells can only let MORE corpus
    near-dups meet (boundary-straddlers), never fewer — and the SQL
    tier refuses multi-probe, same contract as semantic_dedup."""
    import pytest

    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        deterministic_centroids,
        incremental_semantic_dedup,
    )

    emb = read_table(spark, sf_small, "embeddings")
    corpus = emb.filter(F.col("vec_id") < 350)
    batch = emb.filter(F.col("vec_id") >= 350)
    cent = deterministic_centroids(corpus, n_cells=16)
    one = {
        r.vec_id: (r.cell_id, r.kept)
        for r in incremental_semantic_dedup(
            batch, corpus, cent, threshold=0.4, method="numpy"
        ).collect()
    }
    two = {
        r.vec_id: (r.cell_id, r.kept)
        for r in incremental_semantic_dedup(
            batch,
            corpus,
            cent,
            threshold=0.4,
            method="numpy",
            n_probe_cells=2,
        ).collect()
    }
    assert set(one) == set(two)
    for vid, (cell, kept) in one.items():
        assert two[vid][0] == cell  # primary cell unchanged
        if not kept:
            assert not two[vid][1]  # drops only grow
    with pytest.raises(ValueError, match="numpy"):
        incremental_semantic_dedup(
            batch, corpus, cent, threshold=0.4, n_probe_cells=2
        )


def test_incremental_semantic_dedup_reuses_materialized_cells(
    spark, sf_small, tmp_path
):
    """The production daily path: pass the PREVIOUS full run's
    ``(id, cell_id)`` output as ``corpus_cells`` and the operator must
    (a) return byte-identical verdicts to the self-contained recompute
    and (b) never scan the corpus vectors for assignment (the
    assignment's centroid cross-join disappears from the plan)."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        deterministic_centroids,
        incremental_semantic_dedup,
        semantic_dedup,
    )

    emb = read_table(spark, sf_small, "embeddings")
    corpus = emb.filter(F.col("vec_id") < 350)
    batch = emb.filter(F.col("vec_id") >= 350)
    cent = deterministic_centroids(corpus, n_cells=16)
    # the materialized table IS the last full run's output — written
    # to the lake and read back, exactly as a daily job would
    cells_path = str(tmp_path / "corpus_cells")
    semantic_dedup(corpus, cent, threshold=0.4).select(
        "vec_id", "cell_id"
    ).write.parquet(cells_path)
    cells = spark.read.parquet(cells_path)
    recomputed = {
        tuple(r)
        for r in incremental_semantic_dedup(
            batch, corpus, cent, threshold=0.4
        ).collect()
    }
    reused = {
        tuple(r)
        for r in incremental_semantic_dedup(
            batch, corpus, cent, threshold=0.4, corpus_cells=cells
        ).collect()
    }
    assert recomputed == reused
    # the provided table must be AUTHORITATIVE, not a hint the
    # operator recomputes over: park the whole corpus in a cell no
    # centroid produces and every corpus-vs-batch drop disappears
    # (only within-batch drops remain)
    parked = corpus.select(
        "vec_id", F.lit(999).cast("long").alias("cell_id")
    )
    no_corpus_screen = {
        tuple(r)
        for r in incremental_semantic_dedup(
            batch, corpus, cent, threshold=0.4, corpus_cells=parked
        ).collect()
    }
    dropped_real = {t[0] for t in recomputed if not t[2]}
    dropped_parked = {t[0] for t in no_corpus_screen if not t[2]}
    assert dropped_parked <= dropped_real
    assert dropped_parked != dropped_real  # corpus drops vanished


def test_incremental_near_dup_reuses_materialized_signatures(
    spark, sf_small, tmp_path
):
    """The textual daily path mirrors the embedding one: write the
    corpus's banded signature table to the lake once, pass it back,
    and the screen must (a) return identical matches and (b) treat
    the provided table as authoritative (an empty table finds no
    corpus dups — proof nothing is recomputed from text)."""
    from kafka_sparkstreaming_sbt_spark.operators.dedup_fuzzy import (
        banded_signature_table,
        incremental_near_dup,
    )

    docs = read_table(spark, sf_small, "documents")
    corpus = docs.filter(F.col("doc_id") < 350)
    batch = docs.filter(F.col("doc_id") >= 350)
    sig_path = str(tmp_path / "corpus_sigs")
    banded_signature_table(corpus).write.parquet(sig_path)
    sigs = spark.read.parquet(sig_path)

    recomputed = {
        (r.new_doc_id, r.dup_of, r.jaccard)
        for r in incremental_near_dup(batch, corpus).collect()
    }
    reused = {
        (r.new_doc_id, r.dup_of, r.jaccard)
        for r in incremental_near_dup(
            batch, corpus, corpus_signatures=sigs
        ).collect()
    }
    assert recomputed == reused
    assert recomputed  # the planted clones put real dups in the batch
    empty = sigs.filter(F.lit(False))
    none = incremental_near_dup(
        batch, corpus, corpus_signatures=empty
    ).count()
    assert none == 0


def test_incremental_semantic_dedup_parity_random_geometries(spark):
    """Seeded random-geometry sweep: across corpora with different
    cluster structures, thresholds, and centroid counts, the
    incremental screen's batch verdicts must equal the full run's —
    on both tiers.  Catches tie-break/boundary regressions the single
    fixture corpus can't (e.g. equal-cosine pairs, singleton cells,
    batch-only cells)."""
    import numpy as np

    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        incremental_semantic_dedup,
        semantic_dedup,
    )

    rng = np.random.default_rng(11)
    for case in range(4):
        n, dim = 60, 6
        n_cent = int(rng.integers(2, 7))
        threshold = float(rng.uniform(0.3, 0.9))
        # half the vectors are jittered copies of earlier ones so real
        # near-dup pairs exist at every threshold
        base = rng.normal(size=(n, dim))
        for i in range(n // 2, n):
            base[i] = base[rng.integers(0, n // 2)] + rng.normal(
                scale=0.05, size=dim
            )
        emb = spark.createDataFrame(
            [(i, [float(x) for x in base[i]]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )
        split = int(rng.integers(n // 3, 2 * n // 3))
        corpus = emb.filter(F.col("vec_id") < split)
        batch = emb.filter(F.col("vec_id") >= split)
        cent = corpus.filter(F.col("vec_id") < n_cent).selectExpr(
            "vec_id AS cell_id", "embedding AS c_vec"
        )
        full = {
            (r.vec_id, r.cell_id, r.kept)
            for r in semantic_dedup(emb, cent, threshold=threshold).collect()
            if r.vec_id >= split
        }
        for method in ("sql", "numpy"):
            inc = {
                (r.vec_id, r.cell_id, r.kept)
                for r in incremental_semantic_dedup(
                    batch, corpus, cent, threshold=threshold, method=method
                ).collect()
            }
            assert inc == full, (case, method, threshold, n_cent)


def test_label_centroids_matches_numpy_mean(spark):
    """Assembled centroid == numpy column mean per label, dims in
    order, n_vectors = rows per label."""
    import numpy as np

    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        label_centroids,
    )

    rng = np.random.default_rng(7)
    rows = [
        (int(i), ("a" if i % 3 else "b"),
         [float(x) for x in rng.normal(size=5)])
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    out = {r.label: r for r in label_centroids(df).collect()}
    for lbl in ("a", "b"):
        vecs = np.array([v for _, l, v in rows if l == lbl])
        assert out[lbl].n_vectors == len(vecs)
        np.testing.assert_allclose(
            np.array(out[lbl].centroid), vecs.mean(axis=0), atol=1e-9
        )


def test_hard_negatives_excludes_same_label_and_self(spark, tied_vectors):
    """Hard-negative mining: every returned neighbor has a different
    label, ranks are dense per query in (cosine DESC, id ASC) order,
    and the BLAS tier agrees with the SQL tier exactly — on the six
    rows below and on the exact-tie input read in 4-row Arrow
    batches, where the other-label copies come back as the smallest
    ids."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        hard_negatives,
    )

    rows = [
        # two tight clusters; labels interleaved so the nearest
        # vector is usually the SAME label (must be skipped)
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0], 0),
        (2, [0.98, 0.15, 0.0], 1),
        (3, [0.0, 1.0, 0.0], 1),
        (4, [0.1, 0.99, 0.0], 1),
        (5, [0.15, 0.98, 0.0], 0),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = hard_negatives(df, df, k=2).collect()
    lab = {i: l for i, v, l in rows}
    for r in out:
        assert r.query_label != r.neighbor_label
        assert r.query_id != r.neighbor_id
        assert lab[r.query_id] == r.query_label
        assert lab[r.neighbor_id] == r.neighbor_label
    # query 0 (label 0): nearest is 1 (same label, skipped) -> 2
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    q0 = sorted(by_q[0], key=lambda r: r.rank)
    assert q0[0].neighbor_id == 2
    # BLAS tier parity
    np_rows = sorted(
        map(tuple, hard_negatives(df, df, k=2, method="numpy").collect())
    )
    assert np_rows == sorted(map(tuple, out))
    tied = tied_vectors
    with tied.small_batches():
        out = hard_negatives(tied.df, tied.queries, k=2).collect()
        np_rows = sorted(
            map(
                tuple,
                hard_negatives(
                    tied.df, tied.queries, k=2, method="numpy"
                ).collect(),
            )
        )
    assert np_rows == sorted(map(tuple, out))
    for q in tied.query_ids:
        got = [
            n for _, n in sorted(
                (r.rank, r.neighbor_id) for r in out if r.query_id == q
            )
        ]
        assert got == tied.smallest(q, 2, other_label=True)


def test_hard_negatives_numpy_rejects_non_integer_labels(spark):
    """The BLAS tier's input domain is narrower than the SQL tier's
    (int64 ndarrays + a LongType schema): string labels must fail
    fast with guidance, not miscast — while the SQL tier passes the
    label type through untouched."""
    import pytest

    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        hard_negatives,
    )

    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.9, 0.1], "a"),
        (2, [0.0, 1.0], "b"),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    with pytest.raises(ValueError, match="requires integer 'label'"):
        hard_negatives(df, df, k=1, method="numpy")
    # SQL tier handles the same frame fine
    out = hard_negatives(df, df, k=1).collect()
    assert all(r.query_label != r.neighbor_label for r in out)
    # Narrow integral types must be ACCEPTED: df.dtypes spells them
    # 'tinyint'/'smallint' (never 'byte'/'short'), so the guard keyed
    # on the wrong names used to falsely reject valid columns.
    small = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [0.9, 0.1], 0), (2, [0.0, 1.0], 1)],
        "vec_id tinyint, embedding array<double>, label smallint",
    )
    got = hard_negatives(small, small, k=1, method="numpy").collect()
    assert len(got) > 0


def test_knn_graph_blocked_recall_on_clustered_corpus(spark):
    """The cell-blocked kNN graph recovers >= 0.9 of the exact graph's
    edges on a CLUSTERED corpus (the realistic embedding shape —
    k-means cells align with the clusters, so n_probe=2 suffices);
    the exact tier is cosine_topk under edge names."""
    import random

    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        cosine_topk,
        knn_graph,
    )

    rng = random.Random(3)
    centers = [
        [10.0 if d == c else 0.0 for d in range(8)] for c in range(4)
    ]
    rows = []
    for i in range(400):
        c = centers[i % 4]
        rows.append(
            (i, [x + rng.gauss(0, 1.0) for x in c])
        )
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        (r.src, r.dst)
        for r in knn_graph(df, k=5, method="exact").collect()
    }
    # exact tier == cosine_topk modulo column names
    ct = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(df, df, k=5).collect()
    }
    assert exact == ct
    blocked = {
        (r.src, r.dst)
        for r in knn_graph(df, k=5, n_cells=8, n_probe=2).collect()
    }
    recall = len(blocked & exact) / len(exact)
    assert recall >= 0.9, recall


def test_short_docs_dont_crash_shingle_plans(spark):
    """Docs shorter than the shingle width must be DROPPED, not crash
    the plan: Spark sequence(1, 0) counts DOWN (slice at start 0 is a
    runtime error) and the length filter alone does not protect the
    inlined expression — surfaced when the streaming span stage
    started legitimately shortening docs below shingle_n."""
    from kafka_sparkstreaming_sbt_spark.operators.dedup_fuzzy import (
        incremental_near_dup,
        minhash_near_dup_pairs,
        with_shingles,
    )
    from kafka_sparkstreaming_sbt_spark.operators.text import (
        benchmark_overlap,
        doc_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, "z1 z2"), (2, "m1 m2 m3 m4 m5 m6"), (3, "solo")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(0, "c1 c2 c3 c4 c5 c6")], "doc_id long, text string"
    )
    assert {r.doc_id for r in with_shingles(df).collect()} == {2}
    assert minhash_near_dup_pairs(df, persist_shingles=False).count() == 0
    assert incremental_near_dup(df, corpus).count() == 0
    # doc_fingerprints has NO length filter: short docs get a NULL
    # rolling fingerprint instead of a crash
    fp = {r.doc_id: r for r in doc_fingerprints(df).collect()}
    assert set(fp) == {1, 2, 3}
    assert fp[1].fp_md5 is not None
    bo = benchmark_overlap(df, corpus).collect()
    assert all(not r.contaminated for r in bo)
