"""Unified multimodal ingest screen (streaming/ingest.py — VERDICT r7
next-5): one foreachBatch composing drift -> quality -> exact ->
near-dup -> semantic over a (doc_id, text, embedding) stream, one
accepted partition holding the full rows, one replay contract."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
    run_multimodal_ingest_pipeline,
    screen_multimodal_micro_batch,
)

SCHEMA = "doc_id long, text string, embedding array<double>"


def _text(i):
    return " ".join(f"tok{i}x{j}" for j in range(10))


def _vec(i, dim=8):
    # axis-pair vectors: identical for i ≡ j (mod 8), cosine ≤ ~0.4
    # otherwise — so "same id mod 8" is a semantic dup and anything
    # else is safely below the 0.9 threshold.  Corpus ids 0-3 occupy
    # axes 0-3; test uniques must pick distinct residues ∉ {0,1,2,3}.
    v = [0.0] * dim
    v[i % dim] = 1.0
    v[(i * 3 + 1) % dim] += 0.2
    return v


def _rows(ids, text_of, vec_of):
    return [(i, text_of(i), vec_of(i)) for i in ids]


@pytest.fixture
def dirs():
    made = [
        tempfile.mkdtemp(prefix=p)
        for p in ("src_", "acc_", "cells_", "ckpt_")
    ]
    yield made
    for d in made:
        shutil.rmtree(d, ignore_errors=True)


def _corpus(spark):
    docs = spark.createDataFrame(
        [(i, _text(i)) for i in range(4)], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [(i, _vec(i)) for i in range(4)],
        "doc_id long, embedding array<double>",
    )
    return docs, emb


def test_two_wave_e2e_all_five_reject_reasons(spark, dirs):
    """Wave 1 exercises every verdict: a corpus text dup, a corpus
    SEMANTIC dup (new text, near-identical vector), a within-batch
    text dup, and clean uniques; wave 2 proves accepted-lake
    visibility on BOTH modalities (text dup of a wave-1 survivor AND
    vector dup of a wave-1 survivor die)."""
    src, acc, cells, ckpt = dirs
    docs, emb = _corpus(spark)
    stream = spark.readStream.schema(SCHEMA).json(src)
    seen = []
    q = run_multimodal_ingest_pipeline(
        stream, docs, emb, acc, cells, ckpt,
        n_cells=2, method="numpy",
        on_batch=lambda bid, n, a: seen.append((bid, n, a)),
    )
    try:
        wave1 = [
            (10, _text(0), _vec(40)),      # text dup of corpus 0
            (11, _text(11), _vec(1)),      # semantic dup of corpus 1
            (12, _text(12), _vec(45)),     # clean unique (axis 5)
            (13, _text(12), _vec(46)),     # within-batch text dup of 12
            (14, _text(14), _vec(47)),     # clean unique (axis 7)
        ]
        spark.createDataFrame(wave1, SCHEMA).coalesce(1).write.mode(
            "append"
        ).json(src)
        q.processAllAvailable()
        wave2 = [
            (20, _text(12), _vec(53)),     # text dup of ACCEPTED 12
            (21, _text(21), _vec(47)),     # vector dup of ACCEPTED 14
            (22, _text(22), _vec(60)),     # clean unique (axis 4)
        ]
        spark.createDataFrame(wave2, SCHEMA).coalesce(1).write.mode(
            "append"
        ).json(src)
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(acc)
    assert {r.doc_id for r in out.collect()} == {12, 14, 22}
    # full rows persisted: text AND embedding in one partition
    assert set(out.columns) == {"doc_id", "text", "embedding", "batch_id"}
    row = out.filter(F.col("doc_id") == 12).collect()[0]
    assert row.text == _text(12) and len(row.embedding) == 8
    # the hook priced all screens together
    assert [s for s in seen if s[1] > 0] == [(0, 5, 2), (1, 3, 1)]
    # cell-assignment increments exist for exactly the accepted ids
    incr = spark.read.parquet(f"{cells}/incr")
    assert {r.doc_id for r in incr.collect()} == {12, 14, 22}


def test_multimodal_replay_is_idempotent(spark, dirs):
    """Replaying a batch (all its artifacts already written) must
    reproduce identical verdicts and leave the lake byte-identical —
    the strict-inequality exclusion covers the accepted rows, the
    signature/exact increments, and the cell assignments at once."""
    _, acc, cells, _ = dirs
    sig = tempfile.mkdtemp(prefix="sig_")
    exact = tempfile.mkdtemp(prefix="exact_")
    try:
        docs, emb = _corpus(spark)
        from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
            materialize_corpus_signatures,
            materialize_exact_screen,
            materialize_semantic_quantizer,
        )

        materialize_corpus_signatures(docs, sig)
        materialize_exact_screen(docs, exact)
        materialize_semantic_quantizer(
            emb, cells, n_cells=2, id_col="doc_id"
        )
        batch = spark.createDataFrame(
            [
                (10, _text(0), _vec(40)),   # exact text dup of corpus
                (11, _text(11), _vec(1)),   # semantic dup of corpus
                (12, _text(12), _vec(45)),  # unique (axis 5)
            ],
            SCHEMA,
        )
        kw = dict(
            method="numpy", signature_dir=sig, exact_dir=exact
        )
        def lake_state():
            return {
                (r.doc_id, r.text, tuple(r.embedding), r.batch_id)
                for r in spark.read.parquet(acc).collect()
            }

        r1 = screen_multimodal_micro_batch(
            batch, 0, docs, emb, acc, cells, **kw
        )
        state1 = lake_state()
        r2 = screen_multimodal_micro_batch(
            batch, 0, docs, emb, acc, cells, **kw
        )
        state2 = lake_state()
        assert r1 == r2 == (3, 1)
        assert state1 == state2
        assert {r.doc_id for r in spark.read.parquet(acc).collect()} == {12}
        # increments also stable: one signature/hash/cell partition
        assert {
            r.doc_id
            for r in spark.read.parquet(f"{cells}/incr").collect()
        } == {12}
        hashes = spark.read.parquet(f"{exact}/hashes/incr")
        assert hashes.count() == 1  # md5 of doc 12's text only
    finally:
        shutil.rmtree(sig, ignore_errors=True)
        shutil.rmtree(exact, ignore_errors=True)


def test_multimodal_stage_timers_populate_and_change_nothing(spark, dirs):
    """The optional stage_sec profiling dict (VERDICT r9 next-2) must
    (a) accumulate wall per screen stage at the existing eager points
    and (b) leave verdicts and the lake untouched — the timers wrap
    existing materializations, never add actions."""
    _, acc, cells, _ = dirs
    sig = tempfile.mkdtemp(prefix="sig_")
    exact = tempfile.mkdtemp(prefix="exact_")
    span = tempfile.mkdtemp(prefix="span_")
    try:
        docs, emb = _corpus(spark)
        from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
            materialize_corpus_signatures,
            materialize_corpus_window_hashes,
            materialize_exact_screen,
            materialize_semantic_quantizer,
        )

        materialize_corpus_signatures(docs, sig)
        materialize_exact_screen(docs, exact)
        materialize_corpus_window_hashes(docs, span, 8)
        materialize_semantic_quantizer(
            emb, cells, n_cells=2, id_col="doc_id"
        )
        batch = spark.createDataFrame(
            [(10, _text(0), _vec(40)), (12, _text(12), _vec(45))],
            SCHEMA,
        )
        kw = dict(
            method="numpy", signature_dir=sig, exact_dir=exact,
            span_dir=span, span_window_tokens=8,
        )
        stage_sec: dict = {}
        r1 = screen_multimodal_micro_batch(
            batch, 0, docs, emb, acc, cells, **kw, stage_sec=stage_sec
        )
        # every instrumented stage recorded positive wall
        assert set(stage_sec) == {
            "batch_ckpt", "exact", "span", "near_dup", "semantic",
            "write_accept", "increments",
        }
        assert all(v > 0 for v in stage_sec.values())
        # profiling is observation-only: same verdicts as unprofiled
        r2 = screen_multimodal_micro_batch(
            batch, 0, docs, emb, acc, cells, **kw
        )
        assert r1 == r2
    finally:
        for d in (sig, exact, span):
            shutil.rmtree(d, ignore_errors=True)


def test_multimodal_release_preserves_full_row_schema(spark, dirs):
    """Releasing a held batch from a MULTIMODAL lake must go through
    the full unified screen (semantic stage included) and write FULL
    rows — a text-only release would land embedding-less partitions
    that poison later reads of the accepted lake."""
    import tempfile

    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        _RELEASE_BASE,
        _list_batch_ids,
        rebuild_drift_baseline,
        release_held_batches,
    )

    src, acc, cells, ckpt = dirs
    drift = tempfile.mkdtemp(prefix="drift_")
    schema = (
        "doc_id long, text string, embedding array<double>, lang string"
    )
    try:
        docs, emb = _corpus(spark)
        stream = spark.readStream.schema(schema).json(src)
        holds = []
        corpus_l = spark.createDataFrame(
            [(i, _text(i), "en") for i in range(4)],
            "doc_id long, text string, lang string",
        )
        # corpus carries lang so the pipeline's baseline profiles it;
        # every screen projects the columns it needs
        q = run_multimodal_ingest_pipeline(
            stream, corpus_l, emb,
            acc, cells, ckpt,
            n_cells=2, method="numpy",
            drift_dir=drift, drift_cols=("text", "lang"),
            on_hold=lambda bid, alarms: holds.append(bid),
        )
        try:
            # wave 0: clean
            spark.createDataFrame(
                [(30, _text(30), _vec(52), "en")], schema
            ).coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
            # wave 1: lang nulled -> HOLD.  Carries a corpus TEXT dup
            # (40), a corpus VECTOR dup (41), and two clean uniques.
            spark.createDataFrame(
                [
                    (40, _text(0), _vec(46), None),
                    (41, _text(41), _vec(1), None),
                    (42, _text(42), _vec(45), None),
                    (43, _text(43), _vec(47), None),
                ],
                schema,
            ).coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
        finally:
            q.stop()
        assert holds == [1]
        assert {r.doc_id for r in spark.read.parquet(acc).collect()} == {30}

        # operator decides lang is gone for good; release
        corpus_l2 = spark.createDataFrame(
            [(i, _text(i), None) for i in range(4)],
            "doc_id long, text string, lang string",
        )
        rebuild_drift_baseline(corpus_l2, drift, cols=("text", "lang"))
        released = release_held_batches(
            spark, docs, acc, drift,
            drift_cols=("text", "lang"),
            corpus_emb=emb, cells_dir=cells, method="numpy",
        )
        assert released == {1: (4, 2)}  # 40 text-dup, 41 vector-dup die
        out = spark.read.parquet(acc)
        assert {r.doc_id for r in out.collect()} == {30, 42, 43}
        # FULL rows in the release partition — same schema everywhere
        assert set(out.columns) == {
            "doc_id", "text", "embedding", "batch_id"
        }
        rel = out.filter(F.col("doc_id") == 42).collect()[0]
        assert len(rel.embedding) == 8
        assert _RELEASE_BASE + 1 in set(_list_batch_ids(spark, acc))
        # cell assignments exist for the released survivors
        incr = spark.read.parquet(f"{cells}/incr")
        assert {42, 43} <= {r.doc_id for r in incr.collect()}
        # later batches see released docs on BOTH modalities
        from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
            screen_multimodal_micro_batch,
        )

        batch5 = spark.createDataFrame(
            [
                (60, _text(42), _vec(53)),  # text dup of released 42
                (61, _text(61), _vec(47)),  # vector dup of released 43
                (62, _text(62), _vec(62)),  # clean (axes {6,3})
            ],
            SCHEMA,
        )
        n, a = screen_multimodal_micro_batch(
            batch5, 5, docs, emb, acc, cells, method="numpy"
        )
        assert (n, a) == (3, 1)
        assert {
            r.doc_id for r in spark.read.parquet(acc).collect()
        } == {30, 42, 43, 62}
        # replayed release is a no-op
        again = release_held_batches(
            spark, docs, acc, drift,
            drift_cols=("text", "lang"),
            corpus_emb=emb, cells_dir=cells, method="numpy",
        )
        assert again == {}
    finally:
        shutil.rmtree(drift, ignore_errors=True)


def test_multimodal_drift_hold_keeps_embeddings(spark, dirs):
    """A drift-held batch is dead-lettered WHOLE — embeddings
    included — so a later release can re-screen the full rows."""
    src, acc, cells, ckpt = dirs
    drift = tempfile.mkdtemp(prefix="drift_")
    try:
        docs, emb = _corpus(spark)
        stream = spark.readStream.schema(SCHEMA).json(src)
        holds = []
        q = run_multimodal_ingest_pipeline(
            stream, docs, emb, acc, cells, ckpt,
            n_cells=2, method="numpy",
            drift_dir=drift,
            on_hold=lambda bid, alarms: holds.append((bid, alarms)),
        )
        try:
            # broken producer nulls text
            spark.createDataFrame(
                [(50, None, _vec(50)), (51, None, _vec(51))], SCHEMA
            ).coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
        finally:
            q.stop()
        assert [bid for bid, _ in holds] == [0]
        held = spark.read.parquet(f"{drift}/held")
        assert held.count() == 2
        assert "embedding" in held.columns
        assert len(held.collect()[0].embedding) == 8
    finally:
        shutil.rmtree(drift, ignore_errors=True)


def test_multimodal_span_stage_cleans_accepted_text(spark, dirs):
    """With span_dir, the unified screen excises corpus-duplicated
    windows from batch text, the accepted FULL rows carry the CLEANED
    text with their embeddings intact, the span incr records the
    cleaned windows, and a replay is byte-identical."""
    from kafka_sparkstreaming_sbt_spark.operators.chunking import (
        window_hash_table,
    )
    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        materialize_corpus_window_hashes,
        materialize_semantic_quantizer,
    )

    src, acc, cells, ckpt = dirs
    span_dir = tempfile.mkdtemp(prefix="span_")
    try:
        docs = spark.createDataFrame(
            [(0, "s1 s2 s3 s4 c1 c2 c3 c4")], "doc_id long, text string"
        )
        emb = spark.createDataFrame(
            [(0, _vec(0))], "doc_id long, embedding array<double>"
        )
        materialize_semantic_quantizer(
            emb, cells, n_cells=1, id_col="doc_id"
        )
        materialize_corpus_window_hashes(docs, span_dir, 4)
        # 100: corpus span inside fresh text, unique vector (residue 4)
        # 101: entirely corpus spans -> emptied -> dropped
        # 102: clean text, SEMANTIC dup of corpus vector 0
        batch = spark.createDataFrame(
            [
                (100, "x1 x2 s1 s2 s3 s4 y1 y2", _vec(4)),
                (101, "s1 s2 s3 s4 c1 c2 c3 c4", _vec(5)),
                (102, "m1 m2 m3 m4 m5 m6 m7 m8", _vec(0)),
            ],
            SCHEMA,
        )
        n, a = screen_multimodal_micro_batch(
            batch, 0, docs, emb, acc, cells,
            span_dir=span_dir, span_window_tokens=4,
        )
        assert (n, a) == (3, 1)
        out = {r.doc_id: r for r in spark.read.parquet(acc).collect()}
        assert set(out) == {100}
        assert out[100].text == "x1 x2 y1 y2"  # cleaned, not raw
        assert list(out[100].embedding) == _vec(4)
        # span incr holds the CLEANED text's windows only
        incr = {
            r.wh
            for r in spark.read.parquet(f"{span_dir}/incr").collect()
        }
        want = {
            r.wh
            for r in window_hash_table(
                spark.createDataFrame(
                    [(100, "x1 x2 y1 y2")], "doc_id long, text string"
                ),
                window_tokens=4,
            ).collect()
        }
        assert incr == want
        # replay: same batch id -> identical lake + incr
        n2, a2 = screen_multimodal_micro_batch(
            batch, 0, docs, emb, acc, cells,
            span_dir=span_dir, span_window_tokens=4,
        )
        assert (n2, a2) == (3, 1)
        out2 = {r.doc_id: r for r in spark.read.parquet(acc).collect()}
        assert {(k, v.text) for k, v in out.items()} == {
            (k, v.text) for k, v in out2.items()
        }
    finally:
        shutil.rmtree(span_dir, ignore_errors=True)


def test_multimodal_pipeline_with_span_dir_end_to_end(spark, dirs):
    """The streaming form: span_dir on run_multimodal_ingest_pipeline
    — wave-2 text sharing a window with a wave-1 SURVIVOR's cleaned
    text is excised via the incr table."""
    src, acc, cells, ckpt = dirs
    span_dir = tempfile.mkdtemp(prefix="span_")
    try:
        docs, emb = _corpus(spark)
        stream = spark.readStream.schema(SCHEMA).json(src)
        q = run_multimodal_ingest_pipeline(
            stream, docs, emb, acc, cells, ckpt,
            span_dir=span_dir, span_window_tokens=4,
        )
        try:
            # wave 1: unique text+vector (residue 5)
            spark.createDataFrame(
                [(100, "k1 k2 k3 k4 k5 k6", _vec(5))], SCHEMA
            ).coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
            # wave 2: shares window (k2 k3 k4 k5) with accepted 100
            spark.createDataFrame(
                [(200, "z1 k2 k3 k4 k5 z2", _vec(6))], SCHEMA
            ).coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
        finally:
            q.stop()
        out = {r.doc_id: r.text for r in spark.read.parquet(acc).collect()}
        assert out[100] == "k1 k2 k3 k4 k5 k6"
        assert out[200] == "z1 z2"
    finally:
        shutil.rmtree(span_dir, ignore_errors=True)
