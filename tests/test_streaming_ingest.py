"""Streaming dedup-on-ingest (streaming/ingest.py): per-micro-batch
incremental screen vs static corpus + previously accepted batches,
idempotent per-batch lake writes."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
    run_dedup_ingest_pipeline,
)


def _doc(i, text):
    return {"doc_id": i, "text": text}


T = {
    "c0": "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
    "u1": "kilo lima mike november oscar papa quebec romeo sierra tango",
    "u2": "uniform victor whiskey xray yankee zulu amber bronze copper dusk",
    "u3": "ember falcon garnet harbor iris jasper kestrel lagoon meadow north",
}


@pytest.fixture
def dirs():
    made = [tempfile.mkdtemp(prefix=p) for p in ("src_", "acc_", "ckpt_")]
    yield made
    for d in made:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_ingest_screens_corpus_prior_batches_and_self(
    spark, dirs
):
    src, acc, ckpt = dirs
    corpus = spark.createDataFrame(
        [(0, T["c0"])], "doc_id long, text string"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(src)
    )
    seen = []
    q = run_dedup_ingest_pipeline(
        stream, corpus, acc, ckpt,
        on_batch=lambda bid, n, a: seen.append((n, a)),
    )
    try:
        # wave 1: corpus dup (10), two uniques (11, 12), and a
        # within-batch copy of 12's text (13 — larger id loses)
        wave1 = spark.createDataFrame(
            [(10, T["c0"]), (11, T["u1"]), (12, T["u2"]), (13, T["u2"])],
            "doc_id long, text string",
        )
        wave1.coalesce(1).write.mode("append").json(src)
        q.processAllAvailable()
        # wave 2: copy of a batch-1 SURVIVOR (20 — must be caught by
        # the accepted-so-far corpus, not the static one) + new unique
        wave2 = spark.createDataFrame(
            [(20, T["u1"]), (21, T["u3"])],
            "doc_id long, text string",
        )
        wave2.coalesce(1).write.mode("append").json(src)
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(acc)
    accepted = {r.doc_id for r in out.collect()}
    assert accepted == {11, 12, 21}
    # per-batch lake partitions carry the batch id
    assert {r.batch_id for r in out.select("batch_id").distinct().collect()} == {0, 1}
    # observability hook saw both non-empty waves with correct counts
    non_empty = [s for s in seen if s[0] > 0]
    assert non_empty == [(4, 2), (2, 1)]


def test_replay_of_a_batch_is_idempotent_and_self_blind(spark, dirs):
    """The checkpoint-replay contract: re-running batch N must (a)
    NOT screen the batch against its own half-written partition (the
    strict ``batch_id <`` exclusion — otherwise every replayed row
    would look like a dup of itself and be dropped), and (b) leave
    the lake byte-identical (per-partition overwrite)."""
    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        screen_micro_batch,
    )

    _, acc, _ = dirs
    corpus = spark.createDataFrame(
        [(0, T["c0"])], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, T["c0"]), (11, T["u1"])], "doc_id long, text string"
    )
    n1, a1 = screen_micro_batch(batch, 0, corpus, acc)
    first = {tuple(r) for r in spark.read.parquet(acc).collect()}
    # simulate the failure-replay: same batch id, partition already on
    # disk from the first attempt
    n2, a2 = screen_micro_batch(batch, 0, corpus, acc)
    second = {tuple(r) for r in spark.read.parquet(acc).collect()}
    assert (n1, a1) == (n2, a2) == (2, 1)
    assert first == second
    assert {r.doc_id for r in spark.read.parquet(acc).collect()} == {11}


def test_screen_micro_batch_job_count(spark, dirs):
    """Fixed-cost guard: a trigger on a few rows costs what its Spark
    actions cost, so one direct screen of the replay test's input must
    start exactly the SQL executions the one screen body runs (the
    batch is checkpointed once and counted on that job, the accepted
    rows are materialized and counted the same way, and nothing is
    read back from the lake), and no job outside them.  Executions,
    not jobs: AQE splits an execution into a varying number of jobs
    (35-37 over 20 calls, 4 cores, Spark 4.1.2), while the execution
    count read 7 on each of 6 calls.  The count is the step of the
    newest execution id, which the status store's retention cap
    cannot hide.  Jobs that belong to no execution (an RDD action, a
    parquet schema inference at read time) are pinned separately:
    the call's job group minus the jobs of its executions, which read
    0 on 4 of 4 calls."""
    import uuid

    from perfbench.tracing import JobGroups

    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        screen_micro_batch,
    )

    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def newest_execution_id() -> int:
        bus.waitUntilEmpty()
        n = store.executionsCount()
        if n == 0:
            return -1
        return store.executionsList(n - 1, 1).head().executionId()

    def execution_jobs(eid: int) -> set[int]:
        keys = store.execution(eid).get().jobs().keys().mkString(",")
        return {int(k) for k in keys.split(",") if k}

    _, acc, _ = dirs
    corpus = spark.createDataFrame(
        [(0, T["c0"])], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, T["c0"]), (11, T["u1"])], "doc_id long, text string"
    )
    jobs, gid = JobGroups(spark), f"screen-{uuid.uuid4()}"
    before = newest_execution_id()
    with jobs.group(gid):
        assert screen_micro_batch(batch, 0, corpus, acc) == (2, 1)
    after = newest_execution_id()
    assert after - before == 7
    in_executions = set().union(
        *(execution_jobs(e) for e in range(before + 1, after + 1))
    )
    group = set(jobs.job_ids(gid))
    assert in_executions and in_executions <= group
    assert group - in_executions == set()


def test_materialize_rebuilds_partial_base_without_success_marker(
    spark, dirs
):
    """A crash mid-overwrite leaves a READABLE but incomplete
    ``base`` dir; the skip must key on the committer's ``_SUCCESS``
    marker, not readability — otherwise corpus docs with missing
    signatures are never screened and their duplicates are admitted
    forever."""
    import os

    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        materialize_corpus_signatures,
    )

    sig, _, _ = dirs
    corpus = spark.createDataFrame(
        [(0, T["c0"]), (1, T["u1"])], "doc_id long, text string"
    )
    # simulate the crash: a valid parquet dir holding only doc 0's
    # signatures, with no _SUCCESS marker
    materialize_corpus_signatures(
        corpus.filter("doc_id = 0"), sig
    )
    os.remove(f"{sig}/base/_SUCCESS")
    materialize_corpus_signatures(corpus, sig)
    base_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{sig}/base")
        .select("doc_id").distinct().collect()
    }
    assert base_ids == {0, 1}  # rebuilt, not skipped
    # and with the marker present the skip holds (idempotent start)
    materialize_corpus_signatures(
        corpus.filter("doc_id = 0"), sig
    )
    still = {
        r.doc_id
        for r in spark.read.parquet(f"{sig}/base")
        .select("doc_id").distinct().collect()
    }
    assert still == {0, 1}  # untouched: marker gated the skip


def test_pipeline_rebuilds_signatures_of_another_format(spark, dirs):
    """Stored banded keys of another format (no ``_FORMAT`` marker,
    as in every signature dir written before the keys were
    versioned) never equal a live batch's keys, so the screen would
    admit duplicates of every stored doc.  Pipeline start must drop
    the dir and rebuild base from the corpus and incr from the
    accepted lake, so copies of a corpus doc AND of an
    already-accepted doc are both rejected."""
    import glob
    import os

    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        _list_batch_ids,
        materialize_corpus_signatures,
        screen_micro_batch,
    )

    src, acc, ckpt = dirs
    sig = tempfile.mkdtemp(prefix="sig_")
    schema = "doc_id long, text string"
    try:
        corpus = spark.createDataFrame([(0, T["c0"])], schema)
        materialize_corpus_signatures(corpus, sig)
        # an earlier deployment accepted doc 1 (partition -1: strictly
        # before the stream's first batch)
        screen_micro_batch(
            spark.createDataFrame([(1, T["u1"])], schema), -1, corpus,
            acc, signature_dir=sig,
        )
        for part in ("base", "incr/batch_id=-1"):
            rows = spark.read.parquet(f"{sig}/{part}").collect()
            spark.createDataFrame(
                [(r.doc_id, r.bs + 1) for r in rows], "doc_id long, bs long"
            ).write.mode("overwrite").parquet(f"{sig}/{part}")
        for marker in glob.glob(f"{sig}/_FORMAT=*"):
            os.remove(marker)

        stream = spark.readStream.schema(schema).json(src)
        q = run_dedup_ingest_pipeline(
            stream, corpus, acc, ckpt, signature_dir=sig
        )
        try:
            spark.createDataFrame(
                [(10, T["c0"]), (11, T["u1"]), (12, T["u2"])], schema
            ).coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
        finally:
            q.stop()
        accepted = {r.doc_id for r in spark.read.parquet(acc).collect()}
        assert accepted == {1, 12}
        assert glob.glob(f"{sig}/_FORMAT=*")
        assert _list_batch_ids(spark, f"{sig}/incr") == [-1, 0]
    finally:
        shutil.rmtree(sig, ignore_errors=True)


def test_streaming_ingest_with_materialized_signatures(spark, dirs):
    """The signature_dir path must produce the SAME accept/reject
    decisions as the self-contained screen while maintaining the
    banded-key lake: base table written once at start, one incr
    partition per batch holding exactly the accepted rows' keys."""
    import tempfile

    src, acc, ckpt = dirs
    sig = tempfile.mkdtemp(prefix="sig_")
    try:
        corpus = spark.createDataFrame(
            [(0, T["c0"])], "doc_id long, text string"
        )
        stream = (
            spark.readStream.schema("doc_id long, text string").json(src)
        )
        q = run_dedup_ingest_pipeline(
            stream, corpus, acc, ckpt, signature_dir=sig,
        )
        try:
            wave1 = spark.createDataFrame(
                [(10, T["c0"]), (11, T["u1"]), (12, T["u2"]), (13, T["u2"])],
                "doc_id long, text string",
            )
            wave1.coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
            wave2 = spark.createDataFrame(
                [(20, T["u1"]), (21, T["u3"])],
                "doc_id long, text string",
            )
            wave2.coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
        finally:
            q.stop()

        out = spark.read.parquet(acc)
        assert {r.doc_id for r in out.collect()} == {11, 12, 21}
        # base signatures: the static corpus's docs only
        base = spark.read.parquet(f"{sig}/base")
        assert {r.doc_id for r in base.select("doc_id").distinct().collect()} == {0}
        # incr partitions: exactly the accepted ids per batch
        incr = spark.read.parquet(f"{sig}/incr")
        by_batch = {
            (r.batch_id, r.doc_id)
            for r in incr.select("batch_id", "doc_id").distinct().collect()
        }
        assert by_batch == {(0, 11), (0, 12), (1, 21)}
    finally:
        import shutil

        shutil.rmtree(sig, ignore_errors=True)


# ----------------------------------------------------- lake compaction --


def _unique_text(i):
    """Texts with fully disjoint vocabularies: Jaccard 0 between any
    two, so accept/reject verdicts are engineered exactly."""
    return " ".join(f"tok{i}x{j}" for j in range(10))


def _run_screened_waves(spark, acc, sig, n_waves, compact_every=None):
    """Drive the foreachBatch body directly for ``n_waves`` batches —
    wave i carries one unique doc (id 100+i), one copy of wave
    i-2's unique (id 300+i, must be rejected vs the ACCEPTED lake),
    and one copy of the static corpus doc (id 500+i).  Returns the
    per-wave (n, accepted) counts."""
    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        compact_batch_partitions,
        materialize_corpus_signatures,
        screen_micro_batch,
    )

    corpus = spark.createDataFrame(
        [(0, T["c0"])], "doc_id long, text string"
    )
    materialize_corpus_signatures(corpus, sig)
    counts = []
    for i in range(n_waves):
        rows = [(100 + i, _unique_text(i)), (500 + i, T["c0"])]
        if i >= 2:
            rows.append((300 + i, _unique_text(i - 2)))
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        if compact_every and i > 0 and i % compact_every == 0:
            compact_batch_partitions(spark, acc, i)
            compact_batch_partitions(spark, f"{sig}/incr", i)
        counts.append(
            screen_micro_batch(batch, i, corpus, acc, signature_dir=sig)
        )
    return counts


def test_compaction_preserves_verdicts_bounds_partitions_and_replay(
    spark, dirs
):
    """VERDICT r6 #1 done-criteria: ~20 micro-batches with mid-stream
    compaction must (a) produce IDENTICAL accept verdicts to the
    uncompacted run, (b) keep the lake's partition count bounded at
    ~compact_every+1 instead of one-per-trigger-forever, and (c) keep
    post-compaction batch replay idempotent."""
    import tempfile

    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        _list_batch_ids,
        screen_micro_batch,
    )

    acc_a, acc_b, _ = dirs
    sig_a = tempfile.mkdtemp(prefix="siga_")
    sig_b = tempfile.mkdtemp(prefix="sigb_")
    try:
        n = 20
        plain = _run_screened_waves(spark, acc_a, sig_a, n)
        compacted = _run_screened_waves(
            spark, acc_b, sig_b, n, compact_every=5
        )
        # (a) verdict parity, per wave and in the lake
        assert plain == compacted
        ids_a = {r.doc_id for r in spark.read.parquet(acc_a).collect()}
        ids_b = {r.doc_id for r in spark.read.parquet(acc_b).collect()}
        assert ids_a == ids_b == {100 + i for i in range(n)}
        # (b) bounded partition count: folds at 5/10/15 leave
        # {14, 15..19}; the plain run keeps all 20
        assert len(_list_batch_ids(spark, acc_b)) <= 6
        assert len(_list_batch_ids(spark, f"{sig_b}/incr")) <= 6
        assert len(_list_batch_ids(spark, acc_a)) == n
        # signature lake parity too (doc ids, ignoring batch labels)
        sig_ids_a = {
            r.doc_id
            for r in spark.read.parquet(f"{sig_a}/incr")
            .select("doc_id").distinct().collect()
        }
        sig_ids_b = {
            r.doc_id
            for r in spark.read.parquet(f"{sig_b}/incr")
            .select("doc_id").distinct().collect()
        }
        assert sig_ids_a == sig_ids_b == ids_a
        # (c) replay of the LAST batch (post-compaction) is idempotent
        corpus = spark.createDataFrame(
            [(0, T["c0"])], "doc_id long, text string"
        )
        last = spark.createDataFrame(
            [
                (100 + n - 1, _unique_text(n - 1)),
                (500 + n - 1, T["c0"]),
                (300 + n - 1, _unique_text(n - 3)),
            ],
            "doc_id long, text string",
        )
        replay = screen_micro_batch(
            last, n - 1, corpus, acc_b, signature_dir=sig_b
        )
        assert replay == compacted[-1]
        assert {
            r.doc_id for r in spark.read.parquet(acc_b).collect()
        } == ids_b
    finally:
        shutil.rmtree(sig_a, ignore_errors=True)
        shutil.rmtree(sig_b, ignore_errors=True)


def test_compaction_crash_recovery_both_phases(spark, dirs):
    """The write-ahead protocol: an orphan staging dir WITHOUT its
    _SUCCESS marker rolls back (lake untouched); one WITH the marker
    rolls forward (deletes + rename completed by recovery) — and
    either way the lake's row set is exactly what it was."""
    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        _list_batch_ids,
        recover_compaction,
        screen_micro_batch,
    )

    acc, _, _ = dirs
    corpus = spark.createDataFrame(
        [(0, T["c0"])], "doc_id long, text string"
    )
    for i in range(4):
        batch = spark.createDataFrame(
            [(100 + i, _unique_text(i))], "doc_id long, text string"
        )
        screen_micro_batch(batch, i, corpus, acc)
    before = {tuple(r) for r in spark.read.parquet(acc).collect()}

    # crash DURING the staging write: partial dir, no marker
    staged = (
        spark.read.parquet(acc).filter(F.col("batch_id") < 3)
        .drop("batch_id")
    )
    staged.write.mode("overwrite").parquet(f"{acc}/_compact/upto=3")
    import os

    os.remove(f"{acc}/_compact/upto=3/_SUCCESS")
    recover_compaction(spark, acc)
    assert not os.path.exists(f"{acc}/_compact")
    assert _list_batch_ids(spark, acc) == [0, 1, 2, 3]  # rolled back
    assert {tuple(r) for r in spark.read.parquet(acc).collect()} == before

    # crash AFTER the staging write committed (marker present) but
    # before the deletes/rename: recovery rolls FORWARD
    staged.write.mode("overwrite").parquet(f"{acc}/_compact/upto=3")
    recover_compaction(spark, acc)
    assert not os.path.exists(f"{acc}/_compact")
    assert _list_batch_ids(spark, acc) == [2, 3]  # folded into 2
    assert {tuple(r) for r in spark.read.parquet(acc).collect()} == {
        (d, t, 2 if b < 3 else b) for d, t, b in before
    }


def test_streaming_pipeline_compacts_mid_stream(spark, dirs):
    """End-to-end through the real streaming engine: compact_every
    folds committed partitions mid-stream and verdicts still hold."""
    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        _list_batch_ids,
    )

    src, acc, ckpt = dirs
    corpus = spark.createDataFrame(
        [(0, T["c0"])], "doc_id long, text string"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string").json(src)
    )
    q = run_dedup_ingest_pipeline(
        stream, corpus, acc, ckpt, compact_every=2,
    )
    try:
        for i in range(4):
            rows = [(100 + i, _unique_text(i)), (500 + i, T["c0"])]
            spark.createDataFrame(
                rows, "doc_id long, text string"
            ).coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
    finally:
        q.stop()
    assert {
        r.doc_id for r in spark.read.parquet(acc).collect()
    } == {100, 101, 102, 103}
    # fold ran at batch 2 (0,1 -> 1): strictly fewer than one
    # partition per trigger
    assert len(_list_batch_ids(spark, acc)) < 4


def test_quality_model_screens_before_dedup(spark, dirs):
    """quality_model= composition: spam-scored docs are rejected by
    the NB screen, survivors still dedup vs corpus and prior batches,
    and the replay contract is untouched."""
    from kafka_sparkstreaming_sbt_spark.operators.classify import (
        nb_train,
    )
    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        screen_micro_batch,
    )

    src, acc, ckpt = dirs
    spam = "buy click spam buy click spam buy click spam buy"
    seed = spark.createDataFrame(
        [(1000 + i, T["c0"], 1) for i in range(5)]
        + [(2000 + i, spam, 0) for i in range(5)],
        "doc_id long, text string, label int",
    )
    model = nb_train(seed, "label", n_buckets=256)
    corpus = spark.createDataFrame(
        [(0, T["c0"])], "doc_id long, text string"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string").json(src)
    )
    seen = []
    q = run_dedup_ingest_pipeline(
        stream, corpus, acc, ckpt,
        on_batch=lambda bid, n, a: seen.append((bid, n, a)),
        quality_model=model, quality_n_buckets=256,
    )
    try:
        # 10: corpus dup (clean text, killed by dedup); 11: clean
        # unique (accepted); 12: spam unique (killed by quality)
        wave = spark.createDataFrame(
            [(10, T["c0"]), (11, T["u1"]), (12, spam)],
            "doc_id long, text string",
        )
        wave.coalesce(1).write.mode("append").json(src)
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(acc)
    assert {r.doc_id for r in out.collect()} == {11}
    # the hook reports the RAW batch size (3), pricing both screens
    non_empty = [s for s in seen if s[1] > 0]
    assert non_empty == [(0, 3, 1)]
    # replaying the batch (same id) is still idempotent
    filtered = wave.filter(F.col("doc_id") != 12)
    n, a = screen_micro_batch(filtered, 0, corpus, acc)
    assert (n, a) == (2, 1)
    assert {
        r.doc_id for r in spark.read.parquet(acc).collect()
    } == {11}


def _run_exact_waves(spark, acc, exact, n_waves, fold_every=None):
    """Drive the screen with the exact prefilter enabled — wave i
    carries one unique doc (100+i), one EXACT copy of wave i-2's
    unique (300+i), one exact copy of the static corpus doc (500+i),
    and from wave 1 on a NEAR-dup of the corpus doc (700+i, one token
    changed — must be caught by the near-dup screen, proving the
    exact prefilter doesn't swallow the near path).  ``fold_every``
    folds ``hashes/incr`` the way ``_Lake.maintain`` does."""
    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        compact_batch_partitions,
        materialize_exact_screen,
        screen_micro_batch,
    )

    corpus = spark.createDataFrame(
        [(0, T["c0"])], "doc_id long, text string"
    )
    near_c0 = T["c0"].replace("alpha", "altered")
    materialize_exact_screen(corpus, exact)
    counts = []
    for i in range(n_waves):
        rows = [(100 + i, _unique_text(i)), (500 + i, T["c0"])]
        if i >= 1:
            rows.append((700 + i, near_c0))
        if i >= 2:
            rows.append((300 + i, _unique_text(i - 2)))
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        if fold_every and i > 0 and i % fold_every == 0:
            compact_batch_partitions(spark, f"{exact}/hashes/incr", i)
        counts.append(
            screen_micro_batch(batch, i, corpus, acc, exact_dir=exact)
        )
    return counts


def test_exact_screen_verdicts_and_replay(spark, tmp_path):
    """Fast guard for the exact prefilter: three tiny waves screened
    with ``exact_dir`` get the ``(n, accepted)`` per wave and the
    accepted ids a screen without it gets (that parity is run in the
    slow ``test_exact_prefilter_preserves_verdicts``; here the
    no-exact figures are the literal oracle).  The waves hold a corpus
    copy, a copy of an earlier wave's survivor, an exact copy within
    one batch, a near-dup of the corpus and uniques.  Replaying the
    last wave leaves the lake's rows as they were, and ``exact_dir``
    holds only the hash table."""
    import os

    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        materialize_exact_screen,
        screen_micro_batch,
    )

    corpus = spark.createDataFrame(
        [(0, T["c0"])], "doc_id long, text string"
    )
    waves = [
        # corpus copy; unique; 13 is an exact copy of 12 in-batch
        [(10, T["c0"]), (11, T["u1"]), (12, T["u2"]), (13, T["u2"])],
        # copy of survivor 11; near-dup of the corpus doc; unique
        [(20, T["u1"]), (21, T["c0"].replace("alpha", "altered")),
         (22, T["u3"])],
        # copy of survivor 12; unique
        [(30, T["u2"]), (31, _unique_text(7))],
    ]
    acc, exact = str(tmp_path / "acc"), str(tmp_path / "exact")
    materialize_exact_screen(corpus, exact)
    batches = [
        spark.createDataFrame(w, "doc_id long, text string") for w in waves
    ]
    counts = [
        screen_micro_batch(b, i, corpus, acc, exact_dir=exact)
        for i, b in enumerate(batches)
    ]
    assert counts == [(4, 2), (3, 1), (2, 1)]

    def rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    assert [r[0] for r in rows(acc)] == [11, 12, 22, 31]
    lake = (rows(acc), rows(f"{exact}/hashes/incr"))
    assert screen_micro_batch(
        batches[2], 2, corpus, acc, exact_dir=exact
    ) == counts[2]
    assert (rows(acc), rows(f"{exact}/hashes/incr")) == lake
    assert os.listdir(exact) == ["hashes"]


def test_exact_prefilter_preserves_verdicts(spark, dirs):
    """The exact screen must not change WHO is accepted — only where
    exact copies die (cheap hash screen vs shingling).  Near-dups
    (not exact) must still be caught downstream."""
    import tempfile

    acc_a, exact_a = tempfile.mkdtemp(), tempfile.mkdtemp()
    acc_b = tempfile.mkdtemp()
    import shutil

    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        screen_micro_batch,
    )

    try:
        counts = _run_exact_waves(spark, acc_a, exact_a, 5)
        # baseline: same waves, no exact prefilter
        corpus = spark.createDataFrame(
            [(0, T["c0"])], "doc_id long, text string"
        )
        near_c0 = T["c0"].replace("alpha", "altered")
        base_counts = []
        for i in range(5):
            rows = [(100 + i, _unique_text(i)), (500 + i, T["c0"])]
            if i >= 1:
                rows.append((700 + i, near_c0))
            if i >= 2:
                rows.append((300 + i, _unique_text(i - 2)))
            batch = spark.createDataFrame(
                rows, "doc_id long, text string"
            )
            base_counts.append(screen_micro_batch(batch, i, corpus, acc_b))
        assert counts == base_counts
        a = {r.doc_id for r in spark.read.parquet(acc_a).collect()}
        b = {r.doc_id for r in spark.read.parquet(acc_b).collect()}
        assert a == b
        # uniques in, every exact copy out, first near-dup of corpus
        # rejected by the near screen (701 carries Jaccard ~0.8 text)
        assert {100, 101, 102, 103, 104} <= a
        assert not any(500 <= d < 600 for d in a)
        assert not any(300 <= d < 400 for d in a)
        assert not any(700 <= d < 800 for d in a)
    finally:
        for d in (acc_a, exact_a, acc_b):
            shutil.rmtree(d, ignore_errors=True)


def test_exact_prefilter_replay_and_fold(spark, dirs):
    """Replaying a batch with its exact-screen incr artifacts already
    written must be idempotent (strict-inequality: its own hash
    partition is excluded), and folding ``hashes/incr`` with
    compact_batch_partitions must keep the partition count bounded
    while preserving verdicts."""
    import shutil
    import tempfile

    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        _list_batch_ids,
        screen_micro_batch,
    )

    acc, exact = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        counts = _run_exact_waves(spark, acc, exact, 6, fold_every=3)
        # hash incr partitions stay bounded: the fold at 3 covered 0..2
        hash_ids = _list_batch_ids(spark, f"{exact}/hashes/incr")
        assert len(hash_ids) <= 4  # fold(3) -> {2} + 3,4,5
        before = sorted(
            (r.doc_id, r.batch_id)
            for r in spark.read.parquet(acc).collect()
        )
        # replay batch 5 (its incr artifacts exist): same verdicts
        corpus = spark.createDataFrame(
            [(0, T["c0"])], "doc_id long, text string"
        )
        near_c0 = T["c0"].replace("alpha", "altered")
        batch5 = spark.createDataFrame(
            [
                (105, _unique_text(5)),
                (505, T["c0"]),
                (705, near_c0),
                (305, _unique_text(3)),
            ],
            "doc_id long, text string",
        )
        replay = screen_micro_batch(batch5, 5, corpus, acc, exact_dir=exact)
        assert replay == counts[5] == (4, 1)
        after = sorted(
            (r.doc_id, r.batch_id)
            for r in spark.read.parquet(acc).collect()
        )
        assert before == after
    finally:
        for d in (acc, exact):
            shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------ held-batch release --


def test_release_held_batches_after_baseline_refresh(spark, dirs):
    """VERDICT r7 wrong-3 / r8 #3 done-criteria: hold a batch on a
    null-jump, refresh the baseline, release — survivors land (under
    the negative release partition, visible to later stream screens),
    dups still die on release, a still-alarming batch stays held,
    and a replayed release is a no-op."""
    import tempfile

    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        _RELEASE_BASE,
        _list_batch_ids,
        rebuild_drift_baseline,
        release_held_batches,
        screen_micro_batch,
    )

    src, acc, ckpt = dirs
    drift = tempfile.mkdtemp(prefix="drift_")
    try:
        schema = "doc_id long, text string, lang string"
        corpus = spark.createDataFrame(
            [(i, T[k], "en") for i, k in enumerate(("c0", "u1"))],
            schema,
        )
        stream = spark.readStream.schema(schema).json(src)
        holds = []
        q = run_dedup_ingest_pipeline(
            stream, corpus, acc, ckpt,
            drift_dir=drift, drift_cols=("text", "lang"),
            on_hold=lambda bid, alarms: holds.append((bid, alarms)),
        )
        u5 = "quartz rivet slate timber umber velvet willow xenon yarrow zephyr"
        u6 = "anchor basil cedar dahlia elm fennel ginkgo hazel ivy juniper"
        u7 = "orchid pine quince rowan sage thistle ulex verbena wisteria yew"
        try:
            # wave 0: clean
            spark.createDataFrame(
                [(30, u5, "en")], schema
            ).coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
            # wave 1: producer nulls `lang` -> null-jump HOLD.  The
            # batch carries two clean uniques AND one exact copy of
            # the corpus doc (41) — the copy must still die on
            # release.
            spark.createDataFrame(
                [(40, u6, None), (41, T["c0"], None), (42, u7, None)],
                schema,
            ).coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
            # wave 2: text itself goes null — must STAY held even
            # after the lang-tolerant baseline refresh
            spark.createDataFrame(
                [(50, None, "en"), (51, None, "en")], schema
            ).coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
        finally:
            q.stop()
        assert sorted(bid for bid, _ in holds) == [1, 2]
        assert {r.doc_id for r in spark.read.parquet(acc).collect()} == {30}

        # refresh: the operator decides `lang` is gone from the feed
        # for good — the new corpus snapshot nulls it out, so the
        # held batch's 100% null rate no longer jumps vs baseline
        corpus2 = spark.createDataFrame(
            [(0, T["c0"], None), (1, T["u1"], None)], schema
        )
        rebuild_drift_baseline(
            corpus2, drift, cols=("text", "lang"), accepted_dir=acc
        )
        released = release_held_batches(
            spark, corpus, acc, drift, drift_cols=("text", "lang")
        )
        # batch 1 released (3 in, 2 survived); batch 2 still alarms
        assert released == {1: (3, 2), 2: None}
        assert _list_batch_ids(spark, f"{drift}/held") == [2]
        out = spark.read.parquet(acc)
        ids = {r.doc_id for r in out.collect()}
        assert ids == {30, 40, 42}  # 41 (corpus dup) died on release
        parts = set(_list_batch_ids(spark, acc))
        assert _RELEASE_BASE + 1 in parts
        # a later STREAM batch must see released docs as corpus: an
        # exact near-dup copy of released 40 dies in batch 5
        batch5 = spark.createDataFrame(
            [(60, u6), (61, _unique_text(99))],
            "doc_id long, text string",
        )
        n, a = screen_micro_batch(
            batch5, 5, corpus.select("doc_id", "text"), acc
        )
        assert (n, a) == (2, 1)
        assert {
            r.doc_id for r in spark.read.parquet(acc).collect()
        } == {30, 40, 42, 61}
        # replayed release: nothing releasable is re-screened, the
        # still-held batch stays, the lake is untouched
        again = release_held_batches(
            spark, corpus, acc, drift, drift_cols=("text", "lang")
        )
        assert again == {2: None}
        assert {
            r.doc_id for r in spark.read.parquet(acc).collect()
        } == {30, 40, 42, 61}
    finally:
        shutil.rmtree(drift, ignore_errors=True)


def test_drift_gate_holds_broken_feed_and_passes_clean(spark, dirs):
    """The drift HOLD (drift_dir=): a clean wave flows through the
    screens untouched; a producer bug that repeats one text
    (distinct-rate collapse) or nulls the text column (null-rate
    jump) gets its WHOLE batch dead-lettered to held/batch_id=N —
    no accepted partition, no artifact increments, alarms observable
    via on_hold."""
    src, acc, ckpt = dirs
    drift = tempfile.mkdtemp(prefix="drift_")
    try:
        corpus = spark.createDataFrame(
            [(i, T[k]) for i, k in enumerate(("c0", "u1", "u2", "u3"))],
            "doc_id long, text string",
        )
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(src)
        )
        seen, holds = [], []
        q = run_dedup_ingest_pipeline(
            stream, corpus, acc, ckpt,
            on_batch=lambda bid, n, a: seen.append((bid, n, a)),
            drift_dir=drift,
            on_hold=lambda bid, alarms: holds.append((bid, alarms)),
        )
        u5 = "quartz rivet slate timber umber velvet willow xenon yarrow zephyr"
        u6 = "anchor basil cedar dahlia elm fennel ginkgo hazel ivy juniper"
        try:
            # wave 0: clean — two new unique texts
            spark.createDataFrame(
                [(30, u5), (31, u6)], "doc_id long, text string"
            ).coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
            # wave 1: broken producer repeats ONE text 6x
            spark.createDataFrame(
                [(40 + i, "pebble granite chert flint obsidian basalt gneiss schist marble slatez") for i in range(6)],
                "doc_id long, text string",
            ).coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
            # wave 2: broken producer nulls the text column
            spark.createDataFrame(
                [(50, None), (51, None)], "doc_id long, text string"
            ).coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
        finally:
            q.stop()

        accepted = {r.doc_id for r in spark.read.parquet(acc).collect()}
        assert accepted == {30, 31}
        held = spark.read.parquet(f"{drift}/held")
        assert {r.batch_id for r in held.select("batch_id").distinct().collect()} == {1, 2}
        assert held.count() == 8
        kinds = {bid: set(a.split(":")[1] for a in alarms) for bid, alarms in holds}
        assert "distinct_collapse" in kinds[1]
        assert "null_jump" in kinds[2]
        # throughput accounting stays complete: held waves report 0
        assert [(n, a) for _, n, a in seen if n > 0] == [
            (2, 2), (6, 0), (2, 0)
        ]
    finally:
        shutil.rmtree(drift, ignore_errors=True)


# ---- ExactSubstr span stage (VERDICT r8 next-2) -----------------


SPAN_T = {
    "c0": "s1 s2 s3 s4 a1 b1 c1 d1",
    "u1": "k1 k2 k3 k4 k5 k6",
    "mix": "x1 x2 s1 s2 s3 s4 y1 y2",
    "mix2": "z1 k2 k3 k4 k5 z2",
    "u3": "m1 m2 m3 m4 m5 m6",
}


def test_span_stage_excises_corpus_and_prior_batch_spans(spark, dirs):
    """Streaming ExactSubstr: a batch doc's windows matching the
    CORPUS window-hash table are excised (not the whole doc
    rejected); a later batch's windows matching an EARLIER accepted
    batch's (cleaned) text are excised via the incr table; a doc
    whose text is entirely corpus spans empties out and is dropped."""
    src, acc, ckpt = dirs
    span_dir = tempfile.mkdtemp(prefix="span_")
    try:
        corpus = spark.createDataFrame(
            [(0, SPAN_T["c0"])], "doc_id long, text string"
        )
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(src)
        )
        q = run_dedup_ingest_pipeline(
            stream, corpus, acc, ckpt,
            span_dir=span_dir, span_window_tokens=4,
        )
        try:
            # 10: one corpus 4-window inside fresh text -> excised;
            # 11: clean; 12: exactly the corpus text -> empties out
            wave1 = spark.createDataFrame(
                [
                    (10, SPAN_T["mix"]),
                    (11, SPAN_T["u1"]),
                    (12, SPAN_T["c0"]),
                ],
                "doc_id long, text string",
            )
            wave1.coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
            # 20: shares a 4-window with ACCEPTED doc 11 -> excised
            # via the incr table; 21 clean
            wave2 = spark.createDataFrame(
                [(20, SPAN_T["mix2"]), (21, SPAN_T["u3"])],
                "doc_id long, text string",
            )
            wave2.coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
        finally:
            q.stop()
        out = {
            r.doc_id: r.text for r in spark.read.parquet(acc).collect()
        }
        assert out == {
            10: "x1 x2 y1 y2",
            11: SPAN_T["u1"],
            20: "z1 z2",
            21: SPAN_T["u3"],
        }
        # incr table: one partition per batch, wh-only schema
        incr = spark.read.parquet(f"{span_dir}/incr")
        assert set(incr.columns) == {"wh", "batch_id"}
        assert {
            r.batch_id
            for r in incr.select("batch_id").distinct().collect()
        } == {0, 1}
    finally:
        shutil.rmtree(span_dir, ignore_errors=True)


def test_span_stage_keeps_first_of_exact_copies_in_one_batch(
    spark, dirs
):
    """Two exact copies in one batch share every window, so the span
    stage alone would excise both to empty; the screen keeps the
    smallest id of the copies, as it does without ``span_dir``."""
    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        materialize_corpus_window_hashes,
        screen_micro_batch,
    )

    _, acc, _ = dirs
    span_dir = tempfile.mkdtemp(prefix="span_")
    acc_plain = tempfile.mkdtemp(prefix="acc_")
    try:
        corpus = spark.createDataFrame(
            [(0, T["c0"])], "doc_id long, text string"
        )
        materialize_corpus_window_hashes(corpus, span_dir, 8)
        batch = spark.createDataFrame(
            [(11, T["u1"]), (12, T["u2"]), (13, T["u2"])],
            "doc_id long, text string",
        )
        assert screen_micro_batch(batch, 0, corpus, acc_plain) == (3, 2)
        assert screen_micro_batch(
            batch, 0, corpus, acc, span_dir=span_dir, span_window_tokens=8
        ) == (3, 2)
        for lake in (acc_plain, acc):
            got = spark.read.parquet(lake).collect()
            assert sorted((r.doc_id, r.text) for r in got) == [
                (11, T["u1"]), (12, T["u2"])
            ]
    finally:
        shutil.rmtree(span_dir, ignore_errors=True)
        shutil.rmtree(acc_plain, ignore_errors=True)


def test_span_stage_replay_idempotent_and_matches_one_shot(spark, dirs):
    """Replaying a batch through the span-staged screen leaves the
    lake AND the span incr byte-identical; the accepted text equals
    the one-shot remove_duplicate_spans_incremental run on the same
    inputs (the equivalence the streaming stage claims)."""
    from kafka_sparkstreaming_sbt_spark.operators.chunking import (
        remove_duplicate_spans_incremental,
        window_hash_table,
    )
    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        materialize_corpus_window_hashes,
        screen_micro_batch,
    )

    _, acc, _ = dirs
    span_dir = tempfile.mkdtemp(prefix="span_")
    try:
        corpus = spark.createDataFrame(
            [(0, SPAN_T["c0"])], "doc_id long, text string"
        )
        materialize_corpus_window_hashes(corpus, span_dir, 4)
        batch = spark.createDataFrame(
            [(10, SPAN_T["mix"]), (11, SPAN_T["u1"])],
            "doc_id long, text string",
        )
        n1, a1 = screen_micro_batch(
            batch, 0, corpus, acc, span_dir=span_dir,
            span_window_tokens=4,
        )
        lake1 = {tuple(r) for r in spark.read.parquet(acc).collect()}
        incr1 = {
            r.wh
            for r in spark.read.parquet(f"{span_dir}/incr").collect()
        }
        # replay: same batch id, partitions already on disk
        n2, a2 = screen_micro_batch(
            batch, 0, corpus, acc, span_dir=span_dir,
            span_window_tokens=4,
        )
        lake2 = {tuple(r) for r in spark.read.parquet(acc).collect()}
        incr2 = {
            r.wh
            for r in spark.read.parquet(f"{span_dir}/incr").collect()
        }
        assert (n1, a1) == (n2, a2) == (2, 2)
        assert lake1 == lake2 and incr1 == incr2
        # one-shot equivalence on the same inputs
        want = {
            r.doc_id: r.clean_text
            for r in remove_duplicate_spans_incremental(
                batch,
                corpus_hashes=window_hash_table(
                    corpus, window_tokens=4
                ),
                window_tokens=4,
            ).collect()
        }
        got = {
            r.doc_id: r.text for r in spark.read.parquet(acc).collect()
        }
        assert got == {i: t for i, t in want.items() if t}
        # the incr carries the CLEANED text's windows: doc 10's
        # excised corpus span contributes nothing
        clean_whs = {
            r.wh
            for r in window_hash_table(
                spark.createDataFrame(
                    [(10, "x1 x2 y1 y2"), (11, SPAN_T["u1"])],
                    "doc_id long, text string",
                ),
                window_tokens=4,
            ).collect()
        }
        assert incr1 == clean_whs
    finally:
        shutil.rmtree(span_dir, ignore_errors=True)


def test_span_stage_compaction_folds_incr_and_preserves_verdicts(
    spark, dirs
):
    """With compact_every the span incr table folds like the
    signature incrs: partition count stays bounded and a post-fold
    wave still excises spans learned from pre-fold batches."""
    src, acc, ckpt = dirs
    span_dir = tempfile.mkdtemp(prefix="span_")
    try:
        corpus = spark.createDataFrame(
            [(0, SPAN_T["c0"])], "doc_id long, text string"
        )
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(src)
        )
        q = run_dedup_ingest_pipeline(
            stream, corpus, acc, ckpt,
            span_dir=span_dir, span_window_tokens=4,
            compact_every=2,
        )
        try:
            for i, (did, text) in enumerate(
                [(10, SPAN_T["u1"]), (11, SPAN_T["u3"])]
            ):
                spark.createDataFrame(
                    [(did, text)], "doc_id long, text string"
                ).coalesce(1).write.mode("append").json(src)
                q.processAllAvailable()
            # wave 3 (batch 2, triggers the fold of batches 0-1):
            # shares a window with batch-0 doc 10
            spark.createDataFrame(
                [(20, SPAN_T["mix2"])], "doc_id long, text string"
            ).coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
        finally:
            q.stop()
        out = {
            r.doc_id: r.text for r in spark.read.parquet(acc).collect()
        }
        assert out[20] == "z1 z2"
        from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
            _list_batch_ids,
        )

        ids = _list_batch_ids(spark, f"{span_dir}/incr")
        # batches 0-1 folded into one partition; batch 2 separate
        assert len(ids) <= 3
    finally:
        shutil.rmtree(span_dir, ignore_errors=True)
