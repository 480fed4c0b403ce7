"""Embedding-side streaming ingest screen (streaming/ingest.py):
SemDeDup per micro-batch against static corpus + accepted batches,
materialized quantizer maintenance, centroid-drift rebuild."""

from __future__ import annotations

import math
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
    _list_batch_ids,
    _quantizer_upto,
    materialize_semantic_quantizer,
    recover_semantic_quantizer,
    run_semantic_ingest_pipeline,
    screen_semantic_micro_batch,
)

SCHEMA = "vec_id long, embedding array<double>"


@pytest.fixture
def dirs():
    made = [
        tempfile.mkdtemp(prefix=p)
        for p in ("vsrc_", "vacc_", "vcell_", "vckpt_")
    ]
    yield made
    for d in made:
        shutil.rmtree(d, ignore_errors=True)


def _axis_centroids(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cell_id long, c_vec array<double>",
    )


def test_semantic_ingest_two_waves_replay_and_batch_parity(spark, dirs):
    """The e2e contract: wave 1's corpus dup / within-batch junior
    dup are rejected, wave 2's copy of a wave-1 SURVIVOR is rejected
    against the accepted lake (not the static corpus), verdicts match
    the batch operator run wave-by-wave, and replaying the last batch
    is idempotent."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        incremental_semantic_dedup,
    )

    src, acc, cells, ckpt = dirs
    corpus = spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0])], SCHEMA)
    w1 = [
        (10, [0.99, 0.14, 0.0, 0.0]),  # corpus near-dup -> reject
        (11, [0.0, 1.0, 0.0, 0.0]),    # unique, cell 1 -> accept
        (12, [0.6, 0.8, 0.0, 0.0]),    # cos 0.8 to 11 -> accept
        (13, [0.01, 1.0, 0.0, 0.0]),   # junior dup of 11 -> reject
    ]
    w2 = [
        (20, [0.0, 0.999, 0.01, 0.0]),  # dup of ACCEPTED 11 -> reject
        (21, [0.0, 0.0, 1.0, 0.0]),     # unique -> accept
    ]
    stream = spark.readStream.schema(SCHEMA).json(src)
    seen = []
    q = run_semantic_ingest_pipeline(
        stream, corpus, acc, cells, ckpt,
        centroids=_axis_centroids(spark),
        on_batch=lambda bid, n, a: seen.append((n, a)),
    )
    try:
        for wave in (w1, w2):
            spark.createDataFrame(wave, SCHEMA).coalesce(1).write.mode(
                "append"
            ).json(src)
            q.processAllAvailable()
    finally:
        q.stop()

    accepted = {r.vec_id for r in spark.read.parquet(acc).collect()}
    assert accepted == {11, 12, 21}
    assert [s for s in seen if s[0] > 0] == [(4, 2), (2, 1)]
    # incr assignments: exactly the accepted ids per batch
    incr = {
        (r.batch_id, r.vec_id)
        for r in spark.read.parquet(f"{cells}/incr").collect()
    }
    assert incr == {(0, 11), (0, 12), (1, 21)}

    # batch-operator parity, wave by wave
    cents = _axis_centroids(spark)
    v1 = incremental_semantic_dedup(
        spark.createDataFrame(w1, SCHEMA), corpus, cents, threshold=0.9
    )
    kept1 = {r.vec_id for r in v1.filter("kept").collect()}
    assert kept1 == {11, 12}
    lake1 = corpus.unionByName(
        spark.createDataFrame(
            [r for r in w1 if r[0] in kept1], SCHEMA
        )
    )
    v2 = incremental_semantic_dedup(
        spark.createDataFrame(w2, SCHEMA), lake1, cents, threshold=0.9
    )
    assert {r.vec_id for r in v2.filter("kept").collect()} == {21}

    # replay contract: rerunning batch 1 leaves lake + counts alike
    def lake_rows():
        return {
            (r.vec_id, tuple(r.embedding), r.batch_id)
            for r in spark.read.parquet(acc).collect()
        }

    before = lake_rows()
    replay = screen_semantic_micro_batch(
        spark.createDataFrame(w2, SCHEMA), 1, corpus, acc, cells
    )
    assert replay == (2, 1)
    assert lake_rows() == before


def _e1_corpus(spark):
    return spark.createDataFrame(
        [(i, [1.0, 0.01 * i, 0.0, 0.0]) for i in range(4)], SCHEMA
    )


def _z_fan(spark):
    """6 unit vectors fanned 30 deg apart in span(e3, e4): pairwise
    cos <= 0.87 (no within-batch dups), cos 0 to the e1/e2 quantizer
    — the SHIFTED distribution the initial centroids can't describe."""
    return spark.createDataFrame(
        [
            (
                100 + j,
                [
                    0.0,
                    0.0,
                    math.cos(math.radians(30 * j)),
                    math.sin(math.radians(30 * j)),
                ],
            )
            for j in range(6)
        ],
        SCHEMA,
    )


def test_drift_fires_rebuild_and_restores_recall(spark, dirs):
    """VERDICT r6 #3 done-criteria: a shifted batch distribution
    fires the drift metric; the quantizer rebuilds at the next
    trigger; and the rebuild provably matters — the post-rebuild
    screen catches a near-dup pair the STALE centroids split across
    cells (verified by a control pipeline without drift management
    accepting the dup), with verdicts matching a fresh full
    semantic_dedup under the rebuilt centroids."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        semantic_dedup,
    )

    src, acc, cells, ckpt = dirs
    corpus = _e1_corpus(spark)
    # vec 200 is a near-dup of accepted 100=[0,0,1,0] (cos 0.9999)
    # but the STALE e1/e2 quantizer assigns 200 -> cell 1 (its tiny
    # e2 component) and 100 -> cell 0 (tie-break): different cells,
    # dup missed.  After re-clustering over corpus + accepted, both
    # live in the z-fan's cell and the dup is caught.
    w1 = [(200, [0.0, 0.012, 0.99, 0.0])]
    drifts = []
    stream = spark.readStream.schema(SCHEMA).json(src)
    q = run_semantic_ingest_pipeline(
        stream, corpus, acc, cells, ckpt,
        centroids=_axis_centroids(spark),
        n_cells=2,
        drift_threshold=0.8,
        on_drift=lambda bid, d: drifts.append((bid, d)),
    )
    try:
        for wave in (_z_fan(spark).collect(), w1):
            spark.createDataFrame(wave, SCHEMA).coalesce(1).write.mode(
                "append"
            ).json(src)
            q.processAllAvailable()
    finally:
        q.stop()

    # the shifted batch fired the metric (baseline ~1.0, batch q 0.0)
    assert drifts[0][1] > 0.8, drifts
    # rebuild happened at trigger 1: generation covers batches < 1,
    # its covered incr partition was folded into the new base
    assert _quantizer_upto(spark, f"{cells}/quantizer") == 1
    assert _list_batch_ids(spark, f"{cells}/incr") == [1]
    # baseline was recomputed for the new generation
    new_q = spark.read.parquet(f"{cells}/quantizer/quality").collect()[0].q
    assert 0.5 < new_q < 0.95  # mixed blob+fan corpus, not the old ~1.0
    # post-rebuild drift is BELOW threshold (no perpetual rebuilds)
    assert drifts[1][1] < 0.8, drifts
    # recall restored: the cross-boundary dup is rejected
    accepted = {r.vec_id for r in spark.read.parquet(acc).collect()}
    assert accepted == {100, 101, 102, 103, 104, 105}

    # ...and the rebuild genuinely mattered: the same waves through a
    # pipeline WITHOUT drift management admit the dup
    src2, acc2, cells2, ckpt2 = [
        tempfile.mkdtemp(prefix=p)
        for p in ("vsrc2_", "vacc2_", "vcell2_", "vckpt2_")
    ]
    try:
        q2 = run_semantic_ingest_pipeline(
            spark.readStream.schema(SCHEMA).json(src2),
            corpus, acc2, cells2, ckpt2,
            centroids=_axis_centroids(spark),
        )
        try:
            for wave in (_z_fan(spark).collect(), w1):
                spark.createDataFrame(wave, SCHEMA).coalesce(
                    1
                ).write.mode("append").json(src2)
                q2.processAllAvailable()
        finally:
            q2.stop()
        stale = {r.vec_id for r in spark.read.parquet(acc2).collect()}
        assert 200 in stale  # the decay the rebuild fixes
    finally:
        for d in (src2, acc2, cells2, ckpt2):
            shutil.rmtree(d, ignore_errors=True)

    # fresh-full parity: semantic_dedup over (corpus + accepted +
    # wave1) under the REBUILT centroids reproduces the verdict
    cents_new = spark.read.parquet(f"{cells}/quantizer/centroids")
    union = corpus.unionByName(
        spark.read.parquet(acc).drop("batch_id")
    ).unionByName(spark.createDataFrame(w1, SCHEMA))
    full = semantic_dedup(union, cents_new, threshold=0.9)
    assert [
        r.kept for r in full.filter("vec_id = 200").collect()
    ] == [False]


def test_quantizer_rebuild_crash_recovery(spark, dirs):
    """Staged-generation protocol: a staged rebuild WITH its _UPTO
    marker rolls forward at recovery (old generation replaced, covered
    incr partitions dropped); one WITHOUT the marker rolls back."""
    import os

    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        _write_quantizer,
    )

    _, acc, cells, _ = dirs
    corpus = _e1_corpus(spark)
    materialize_semantic_quantizer(
        corpus, cells, centroids=_axis_centroids(spark)
    )
    assert _quantizer_upto(spark, f"{cells}/quantizer") == 0
    screen_semantic_micro_batch(_z_fan(spark), 0, corpus, acc, cells)
    assert _list_batch_ids(spark, f"{cells}/incr") == [0]

    # roll-back path: staged generation, marker removed
    full = corpus.unionByName(_z_fan(spark))
    staging = f"{cells}/_rebuild/upto=1"
    _write_quantizer(
        spark, full, staging, _axis_centroids(spark), 1,
        "embedding", "vec_id",
    )
    os.remove(f"{staging}/_UPTO=1")
    recover_semantic_quantizer(spark, cells)
    assert not os.path.exists(f"{cells}/_rebuild")
    assert _quantizer_upto(spark, f"{cells}/quantizer") == 0  # old gen
    assert _list_batch_ids(spark, f"{cells}/incr") == [0]

    # roll-forward path: staged generation with marker
    _write_quantizer(
        spark, full, staging, _axis_centroids(spark), 1,
        "embedding", "vec_id",
    )
    recover_semantic_quantizer(spark, cells)
    assert not os.path.exists(f"{cells}/_rebuild")
    assert _quantizer_upto(spark, f"{cells}/quantizer") == 1
    assert _list_batch_ids(spark, f"{cells}/incr") == []  # folded
    base_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{cells}/quantizer/base").collect()
    }
    assert base_ids == {0, 1, 2, 3, 100, 101, 102, 103, 104, 105}


def test_assignment_quality_values(spark):
    """Hand-computable fit metric: perfect alignment ~1.0, orthogonal
    corpus 0.0, empty corpus nan."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        assignment_quality,
    )

    cents = _axis_centroids(spark)
    aligned = spark.createDataFrame(
        [(0, [2.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.5, 0.0, 0.0])], SCHEMA
    )
    assert assignment_quality(aligned, cents) == pytest.approx(1.0)
    ortho = spark.createDataFrame([(0, [0.0, 0.0, 3.0, 0.0])], SCHEMA)
    assert assignment_quality(ortho, cents) == pytest.approx(0.0)
    empty = aligned.filter("vec_id < 0")
    assert math.isnan(assignment_quality(empty, cents))


def test_quantizer_tables_cache_hits_and_invalidates(
    spark, dirs, tmp_path
):
    """The per-generation quantizer-table cache (r12): repeated calls
    within one generation return the SAME DataFrame objects (so the
    driver-side centroid memo also hits); a committed rebuild bumps
    the _UPTO marker and the next call serves the NEW generation's
    rows, never the stale cache; a full cache evicts least recently
    used first."""
    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        _GENERATION_CACHE_MAX,
        _Generation,
        _quantizer_tables,
        rebuild_semantic_quantizer,
    )

    _, acc, cells, _ = dirs
    corpus = _e1_corpus(spark)
    materialize_semantic_quantizer(
        corpus, cells, centroids=_axis_centroids(spark)
    )
    c1, b1, q1 = _quantizer_tables(spark, cells)
    c2, b2, q2 = _quantizer_tables(spark, cells)
    assert c1 is c2 and b1 is b2 and q1 is q2  # generation cache hit
    ids_gen0 = {r.vec_id for r in b1.collect()}

    # accept a batch, then rebuild over corpus + accepted (gen 1)
    screen_semantic_micro_batch(_z_fan(spark), 0, corpus, acc, cells)
    rebuild_semantic_quantizer(corpus, acc, cells, upto_batch=1)
    c3, b3, _ = _quantizer_tables(spark, cells)
    assert b3 is not b1  # generation bump missed the cache
    ids_gen1 = {r.vec_id for r in b3.collect()}
    assert ids_gen1 > ids_gen0  # new generation covers the batch rows

    # eviction order: past its bound the cache drops the entry used
    # longest ago, never the newest.  Plain marker files stand in for
    # committed generations, so no Spark job runs.
    gens = []
    for i in range(_GENERATION_CACHE_MAX + 1):
        live = tmp_path / f"gen{i}"
        live.mkdir()
        (live / "_UPTO=0").touch()
        gens.append(_Generation(spark, f"{live}_rebuild", str(live)))
    loads = []

    def loader(live):
        loads.append(live)
        return (live,)

    for g in gens[:-1]:
        g.load(loader)
    gens[0].load(loader)  # the oldest entry becomes the newest
    gens[-1].load(loader)  # one past the bound: evicts gens[1]
    loads.clear()
    for g in gens[:1] + gens[2:]:
        g.load(loader)
    assert loads == []  # all still cached
    gens[1].load(loader)
    assert loads == [gens[1].live]
