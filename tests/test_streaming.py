"""Streaming behavior (SURVEY.md §2.6, §5 rebuild strategy): the same
transforms run over ``readStream`` with file-source replay instead of
live Kafka; memory-sink smoke like the reference's integration test
(CustomerSpendingIntegrationTest.scala:133-146); watermark late-data
drop; bounded-state streaming dedup."""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kafka_sparkstreaming_sbt_spark.operators.dedup import (
    dedup_transactions_within_watermark,
)
from kafka_sparkstreaming_sbt_spark.sources.kafka import parse_transactions
from kafka_sparkstreaming_sbt_spark.streaming.pipeline import (
    aggregate_transactions,
    run_spending_pipeline,
)
from kafka_sparkstreaming_sbt_spark.streaming.sinks import (
    start_foreach_batch_sink,
    start_memory_sink,
)


def _txn_json(txn_id, cust, ts, amount, status="Success"):
    return json.dumps(
        {
            "transaction_id": txn_id,
            "customer_id": cust,
            "merchant_id": 10,
            "timestamp": ts,
            "amount": amount,
            "payment_method": "UPI",
            "status": status,
        }
    )


@pytest.fixture()
def stream_dir():
    d = tempfile.mkdtemp()
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_batch(d: str, name: str, lines: list[str]) -> None:
    # write-then-rename so the file source never sees partial files
    tmp = f"{d}/.{name}.tmp"
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    shutil.move(tmp, f"{d}/{name}.txt")


def _read_value_stream(spark, d: str):
    """File-source replay standing in for the Kafka envelope: a text
    stream whose ``value`` column carries the JSON payload, processed
    one file per micro-batch for deterministic batch boundaries."""
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withColumnRenamed("value", "value_str")
        .select(F.col("value_str").cast("binary").alias("value"))
    )


def test_memory_sink_smoke(spark, stream_dir):
    """IT:133-146 analog: stream 2 JSON txns -> parse -> memory sink ->
    SQL count > 0."""
    _write_batch(
        stream_dir,
        "b0",
        [
            _txn_json("s1", "1", "2025-03-10T12:01:00Z", 100.0),
            _txn_json("s2", "2", "2025-03-10T12:02:00Z", 50.0),
        ],
    )
    parsed = parse_transactions(_read_value_stream(spark, stream_dir))
    q = start_memory_sink(parsed, "smoke_txns", output_mode="append")
    try:
        q.processAllAvailable()
        n = spark.sql("SELECT COUNT(*) FROM smoke_txns").first()[0]
        rows = spark.sql(
            "SELECT transaction_id, amount FROM smoke_txns ORDER BY 1"
        ).collect()
    finally:
        q.stop()
    assert n == 2
    assert [(r.transaction_id, r.amount) for r in rows] == [
        ("s1", 100.0),
        ("s2", 50.0),
    ]


def test_streaming_windowed_agg_matches_batch(spark, stream_dir):
    """The same transform chain produces the same 6 golden rows in
    streaming mode (update output) as in batch (FIXTURES.md §2.1)."""
    _write_batch(
        stream_dir,
        "b0",
        [
            _txn_json("t1", "1", "2025-03-10T12:01:00Z", 100.0),
            _txn_json("t2", "1", "2025-03-10T12:05:00Z", 150.0),
            _txn_json("t3", "1", "2025-03-10T12:11:00Z", 200.0),
        ],
    )
    parsed = parse_transactions(_read_value_stream(spark, stream_dir))
    agg = aggregate_transactions(parsed, watermark="5 seconds")
    q = start_memory_sink(agg, "golden_stream", output_mode="update")
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT DISTINCT transaction_id, window_start, window_total_spent "
            "FROM golden_stream"
        ).collect()
    finally:
        q.stop()
    assert len(rows) == 6
    assert {r.transaction_id for r in rows} == {"t1", "t2", "t3"}
    got = sorted(
        (r.transaction_id, r.window_start.strftime("%H:%M"), r.window_total_spent)
        for r in rows
    )
    assert got == [
        ("t1", "11:55", 100.0),
        ("t1", "12:00", 100.0),
        ("t2", "12:00", 150.0),
        ("t2", "12:05", 150.0),
        ("t3", "12:05", 200.0),
        ("t3", "12:10", 200.0),
    ]


def test_watermark_drops_late_data(spark, stream_dir):
    """W1 semantics: after the watermark advances past a window's end,
    a late event for that window is dropped from the aggregation (a
    10-minute watermark here so batch-2's late row is unambiguously
    beyond it)."""
    parsed = parse_transactions(_read_value_stream(spark, stream_dir))
    agg = aggregate_transactions(parsed, watermark="10 minutes")
    _write_batch(
        stream_dir,
        "b0",
        [
            _txn_json("w1", "1", "2025-03-10T12:01:00Z", 100.0),
            # far-future event pushes the watermark to 13:50
            _txn_json("w2", "1", "2025-03-10T14:00:00Z", 1.0),
        ],
    )
    q = start_memory_sink(agg, "late_stream", output_mode="update")
    try:
        q.processAllAvailable()
        # late arrival: 12:02 is way behind the 13:50 watermark; both
        # its candidate windows closed long ago
        _write_batch(
            stream_dir,
            "b1",
            [_txn_json("w3", "1", "2025-03-10T12:02:00Z", 999.0)],
        )
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT transaction_id, window_total_spent FROM late_stream"
        ).collect()
    finally:
        q.stop()
    assert {r.transaction_id for r in rows} == {"w1", "w2"}
    assert all(r.window_total_spent != 999.0 for r in rows)


def test_dedup_within_watermark_bounded_state(spark, stream_dir):
    """The bounded-state alternative to the reference's unbounded
    dedup (SURVEY.md §2.6 W7): duplicates within the delay are
    dropped; the operator runs and emits each key once."""
    _write_batch(
        stream_dir,
        "b0",
        [
            _txn_json("d1", "1", "2025-03-10T12:01:00Z", 100.0),
            _txn_json("d1", "1", "2025-03-10T12:01:00Z", 100.0),
            _txn_json("d2", "2", "2025-03-10T12:01:30Z", 50.0),
        ],
    )
    parsed = parse_transactions(_read_value_stream(spark, stream_dir))
    deduped = dedup_transactions_within_watermark(
        parsed, delay="10 minutes"
    )
    q = start_memory_sink(deduped, "dedup_stream", output_mode="append")
    try:
        q.processAllAvailable()
        # append-mode stateful ops only emit once the watermark passes;
        # push it forward with a later event
        _write_batch(
            stream_dir,
            "b1",
            [_txn_json("d3", "3", "2025-03-10T13:00:00Z", 1.0)],
        )
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT transaction_id FROM dedup_stream"
        ).collect()
    finally:
        q.stop()
    ids = sorted(r.transaction_id for r in rows)
    assert ids.count("d1") == 1
    assert "d2" in ids


def test_streaming_session_window(spark, stream_dir):
    """operators.sessions semantics hold under Structured Streaming:
    watermarked session_window agg emits closed sessions once the
    watermark passes their gap."""
    from kafka_sparkstreaming_sbt_spark.operators.sessions import (
        user_sessions,
    )

    parsed = parse_transactions(_read_value_stream(spark, stream_dir))
    sessions = user_sessions(
        parsed.withWatermark("timestamp", "0 seconds"),
        gap="10 minutes",
        ts_col="timestamp",
        key_col="customer_id",
        value_col="amount",
    )
    _write_batch(
        stream_dir,
        "b0",
        [
            _txn_json("v1", "1", "2025-03-10T12:00:00Z", 10.0),
            _txn_json("v2", "1", "2025-03-10T12:05:00Z", 20.0),  # merges
            _txn_json("v3", "1", "2025-03-10T12:30:00Z", 40.0),  # new sess
        ],
    )
    q = start_memory_sink(sessions, "session_stream", output_mode="append")
    try:
        q.processAllAvailable()
        # far-future event closes all prior sessions
        _write_batch(
            stream_dir,
            "b1",
            [_txn_json("v4", "2", "2025-03-10T15:00:00Z", 1.0)],
        )
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT customer_id, session_start, n_events, total_value "
            "FROM session_stream"
        ).collect()
    finally:
        q.stop()
    got = {
        (r.customer_id, r.session_start.strftime("%H:%M"), r.n_events,
         r.total_value)
        for r in rows
    }
    assert ("1", "12:00", 2, 30.0) in got
    assert ("1", "12:30", 1, 40.0) in got


def test_checkpoint_recovery_no_reprocessing(spark, stream_dir):
    """Restarting the pipeline from its checkpoint resumes AFTER the
    already-committed batches: batch-0 rows are not re-emitted to the
    sink on restart (the recovery contract the reference forfeits by
    configuring no checkpointLocation — SURVEY.md §2.9)."""
    import tempfile as _tf

    ckpt = _tf.mkdtemp()
    collected: list = []
    parsed = parse_transactions(_read_value_stream(spark, stream_dir))
    _write_batch(
        stream_dir,
        "b0",
        [_txn_json("c1", "1", "2025-03-10T12:01:00Z", 100.0)],
    )
    q1 = run_spending_pipeline(
        parsed,
        write_daily=lambda df: collected.extend(df.collect()),
        checkpoint_location=ckpt,
        swallow_errors=False,
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not collected:
            q1.processAllAvailable()
            time.sleep(0.5)
    finally:
        q1.stop()
    assert [
        (r.customer_id, r.total_spent) for r in collected
    ] == [("1", 100.0)]

    # restart from the same checkpoint with new data present
    collected2: list = []
    _write_batch(
        stream_dir,
        "b1",
        [_txn_json("c2", "2", "2025-03-10T12:02:00Z", 50.0)],
    )
    parsed2 = parse_transactions(_read_value_stream(spark, stream_dir))
    q2 = run_spending_pipeline(
        parsed2,
        write_daily=lambda df: collected2.extend(df.collect()),
        checkpoint_location=ckpt,
        swallow_errors=False,
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not any(
            r.customer_id == "2" for r in collected2
        ):
            q2.processAllAvailable()
            time.sleep(0.5)
    finally:
        q2.stop()
    # customer 1's batch-0 transaction is never re-delivered
    assert all(r.customer_id != "1" for r in collected2)
    assert any(
        r.customer_id == "2" and r.total_spent == 50.0 for r in collected2
    )


#: Spark's own key, spelled out: the test reads and unsets it whether
#: or not the session builder set it
CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


class _BatchKeyedSink:
    """An idempotent sink for ``run_spending_pipeline``: each trigger's
    daily rows are stored under its batch id, so a re-run batch
    overwrites its own rows.  Counts the runs of each batch."""

    def __init__(self):
        self.rows: dict[int, list] = {}
        self.runs: Counter = Counter()

    def __call__(self, daily) -> None:
        # foreachBatch runs on the stream thread, which carries the
        # trigger's batch id as a local property
        batch_id = int(
            daily.sparkSession.sparkContext.getLocalProperty(
                "streaming.sql.batchId"
            )
        )
        self.rows[batch_id] = [
            (r.customer_id, r.total_spent) for r in daily.collect()
        ]
        self.runs[batch_id] += 1

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for rows in self.rows.values():
            for customer, spent in rows:
                out[customer] = round(out.get(customer, 0.0) + spent, 2)
        return out


@pytest.mark.parametrize("first_manager", ["session", "spark_default"])
def test_restart_reruns_uncommitted_batch_with_exact_totals(
    spark, stream_dir, first_manager
):
    """A query that stopped after batch N's state commit but before its
    commit-log record re-runs batch N on restart over state deltas
    that already exist (the path where the FileSystem checkpoint
    manager keeps the first file).  The restored dedup state still
    drops a redelivered transaction, and per-customer totals are
    exact to the cent.  With ``spark_default`` the first run writes
    its checkpoint under Spark's default checkpoint manager, and the
    restart reads it under the session's."""
    ckpt = tempfile.mkdtemp()
    sink = _BatchKeyedSink()

    def start():
        return run_spending_pipeline(
            parse_transactions(_read_value_stream(spark, stream_dir)),
            sink,
            checkpoint_location=ckpt,
            swallow_errors=False,
        )

    # one event time throughout: the watermark moves once, after the
    # first batch, so the newest batch is a data batch
    ts = "2025-03-10T12:01:00Z"
    b0 = [("r1", "1", 10.10), ("r2", "2", 20.45), ("r3", "1", 0.35)]
    b1 = [("r4", "2", 7.05), ("r3", "1", 0.35)]  # r3 redelivered
    b2 = [("r1", "1", 10.10), ("r5", "3", 99.99)]  # r1 redelivered
    session_manager = spark.conf.get(CHECKPOINT_MANAGER_KEY, None)
    if first_manager == "spark_default":
        spark.conf.unset(CHECKPOINT_MANAGER_KEY)
    try:
        q = start()
        try:
            for name, txns in (("b0", b0), ("b1", b1)):
                _write_batch(
                    stream_dir, name,
                    [_txn_json(t, c, ts, a) for t, c, a in txns],
                )
                q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if session_manager is not None:
            spark.conf.set(CHECKPOINT_MANAGER_KEY, session_manager)

    # the crash: batch N's offsets and state deltas stay, its commit
    # record (and the local file system's checksum of it) goes
    commits = os.path.join(ckpt, "commits")
    n = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for name in (str(n), f".{n}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    assert sink.runs[n] == 1 and sink.rows[n] == [("2", 7.05)]

    q = start()
    try:
        q.processAllAvailable()
        _write_batch(
            stream_dir, "b2", [_txn_json(t, c, ts, a) for t, c, a in b2]
        )
        q.processAllAvailable()
    finally:
        q.stop()
    # the re-run of batch N found its state files written and left its
    # own as hidden temp files; the next start sweeps them
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    orphans = [
        os.path.join(d, f)
        for d, _, files in os.walk(os.path.join(ckpt, "state"))
        for f in files
        if f.startswith(".") and f.endswith(".tmp")
    ]
    shutil.rmtree(ckpt, ignore_errors=True)
    assert orphans == []
    assert sink.runs[n] == 2
    assert sink.totals() == {"1": 10.45, "2": 27.50, "3": 99.99}


def test_stream_stream_interval_join(spark, stream_dir):
    """Stream-stream inner join with watermarks + event-time interval:
    each Success txn joined to Failed txns of the same customer within
    the preceding 10 minutes (the retry-after-failure pattern).  State
    on both sides is bounded by the watermark + interval."""
    parsed = parse_transactions(_read_value_stream(spark, stream_dir))
    fails = (
        parsed.filter(F.col("status") == "Failed")
        .select(
            F.col("customer_id").alias("f_cust"),
            F.col("timestamp").alias("f_ts"),
            F.col("transaction_id").alias("f_txn"),
        )
        .withWatermark("f_ts", "1 minute")
    )
    succ = (
        parsed.filter(F.col("status") == "Success")
        .select(
            F.col("customer_id").alias("s_cust"),
            F.col("timestamp").alias("s_ts"),
            F.col("transaction_id").alias("s_txn"),
        )
        .withWatermark("s_ts", "1 minute")
    )
    joined = succ.join(
        fails,
        F.expr(
            "s_cust = f_cust AND "
            "f_ts >= s_ts - INTERVAL 10 MINUTES AND f_ts < s_ts"
        ),
    )
    _write_batch(
        stream_dir,
        "b0",
        [
            _txn_json("j1", "1", "2025-03-10T12:00:00Z", 50.0, "Failed"),
            _txn_json("j2", "1", "2025-03-10T12:05:00Z", 50.0, "Success"),
            _txn_json("j3", "2", "2025-03-10T12:06:00Z", 9.0, "Success"),
            # same customer but outside the 10-minute lookback
            _txn_json("j4", "3", "2025-03-10T11:00:00Z", 1.0, "Failed"),
            _txn_json("j5", "3", "2025-03-10T12:00:00Z", 1.0, "Success"),
        ],
    )
    q = start_memory_sink(joined, "retry_join", output_mode="append")
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT s_txn, f_txn FROM retry_join"
        ).collect()
    finally:
        q.stop()
    assert {(r.s_txn, r.f_txn) for r in rows} == {("j2", "j1")}


def test_full_pipeline_collector(spark, stream_dir):
    """run_spending_pipeline end-to-end over a file stream: daily
    rollup rows arrive at the injected sink (K1 foreachBatch)."""
    _write_batch(
        stream_dir,
        "b0",
        [
            _txn_json("p1", "1", "2025-03-10T12:01:00Z", 100.0),
            _txn_json("p2", "1", "2025-03-10T12:05:00Z", 150.0),
            _txn_json("p2", "1", "2025-03-10T12:05:00Z", 150.0),  # dup
        ],
    )
    collected: list = []
    parsed = parse_transactions(_read_value_stream(spark, stream_dir))
    q = run_spending_pipeline(
        parsed,
        write_daily=lambda df: collected.extend(df.collect()),
        checkpoint_location=tempfile.mkdtemp(),
        swallow_errors=False,
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not collected:
            q.processAllAvailable()
            time.sleep(0.5)
    finally:
        q.stop()
    daily = {(r.customer_id, str(r.transaction_date), r.total_spent) for r in collected}
    assert daily == {("1", "2025-03-10", 250.0)}


def test_subsecond_timestamp_streaming_reparse_yields_null(spark, stream_dir):
    """ADVICE r1 (high): under Spark 4's ANSI default a plain
    ``to_timestamp`` THROWS on sub-second timestamps — upstream of
    foreachBatch, so it would kill the query regardless of
    swallow_errors.  parse_transactions must reproduce the reference's
    Spark 3.5 semantics instead (CSA:42): sub-second -> NULL, whole
    seconds -> truncated round trip.  This drives a sub-second
    timestamp through the real STREAMING path."""
    _write_batch(
        stream_dir,
        "b0",
        [
            _txn_json("ss1", "1", "2025-03-10T12:01:00.123Z", 100.0),
            _txn_json("ss2", "2", "2025-03-10T12:02:00Z", 50.0),
        ],
    )
    parsed = parse_transactions(_read_value_stream(spark, stream_dir))
    q = start_memory_sink(parsed, "subsecond_txns", output_mode="append")
    try:
        q.processAllAvailable()  # would raise CANNOT_PARSE_TIMESTAMP pre-fix
        rows = spark.sql(
            "SELECT transaction_id, timestamp FROM subsecond_txns ORDER BY 1"
        ).collect()
    finally:
        q.stop()
    by_id = {r.transaction_id: r.timestamp for r in rows}
    assert by_id["ss1"] is None  # sub-second -> NULL (quirk parity)
    assert by_id["ss2"] is not None  # whole-second round-trips


def test_multi_query_per_source(spark, stream_dir):
    """Reference CSAN1:88-145 / SURVEY §3.2: SEVERAL concurrent
    StreamingQueries hang off ONE source plan — a memory-sink raw tap
    and a foreachBatch aggregation — and each makes progress
    independently (own offsets, own trigger cadence)."""
    _write_batch(
        stream_dir,
        "b0",
        [
            _txn_json("m1", "1", "2025-03-10T12:01:00Z", 100.0),
            _txn_json("m2", "2", "2025-03-10T12:02:00Z", 50.0),
        ],
    )
    parsed = parse_transactions(_read_value_stream(spark, stream_dir))

    batches: list = []

    def collect_batch(batch_df, batch_id):
        batches.extend(batch_df.collect())

    q_raw = start_memory_sink(parsed, "multi_raw", output_mode="append")
    q_agg = start_foreach_batch_sink(
        parsed.groupBy("customer_id").agg(F.sum("amount").alias("total")),
        collect_batch,
        output_mode="update",
        checkpoint_location=tempfile.mkdtemp(),
        query_name="multi_agg",
        swallow_errors=False,
    )
    try:
        q_raw.processAllAvailable()
        q_agg.processAllAvailable()
        n_raw_b0 = spark.sql("SELECT COUNT(*) FROM multi_raw").first()[0]
        n_agg_b0 = len({(r.customer_id, r.total) for r in batches})
        # both queries advance again on a second file
        _write_batch(
            stream_dir,
            "b1",
            [_txn_json("m3", "1", "2025-03-10T12:03:00Z", 25.0)],
        )
        q_raw.processAllAvailable()
        q_agg.processAllAvailable()
        n_raw_b1 = spark.sql("SELECT COUNT(*) FROM multi_raw").first()[0]
    finally:
        q_raw.stop()
        q_agg.stop()
    assert n_raw_b0 == 2 and n_raw_b1 == 3
    assert n_agg_b0 == 2  # both customers aggregated in batch 0
    totals = {(r.customer_id, r.total) for r in batches}
    assert ("1", 125.0) in totals  # batch 1 re-aggregated customer 1
    # independent progress: each query tracked its own offsets
    assert q_raw.lastProgress["numInputRows"] >= 1
    assert q_agg.lastProgress is not None


def test_kafka_source_gated_with_actionable_error(spark):
    """S1 gating: plain pyspark ships no Kafka connector jar; the
    source must fail fast with the --packages remedy, not an opaque
    'Failed to find data source' at load() time."""
    from kafka_sparkstreaming_sbt_spark.sources.kafka import (
        read_kafka_stream,
    )

    with pytest.raises(ImportError, match="spark-sql-kafka"):
        read_kafka_stream(spark, "localhost:9092")


def test_streaming_dlq_split_routes_dead_letters(spark, stream_dir):
    """The --dlq topology: one decoded stream feeds two queries — valid
    rows aggregate, undecodable payloads append to a parquet dead
    letter with their raw bytes intact (vs the reference's silent
    all-null rows)."""
    from kafka_sparkstreaming_sbt_spark.sources.kafka import (
        parse_transactions_with_dlq,
    )

    good = _txn_json("t1", "1", "2025-03-10T12:00:00Z", 100.0)
    bad = "corrupt {{{ payload"
    keyless = json.dumps({"customer_id": 9, "amount": 5.0})
    _write_batch(stream_dir, "b0", [good, bad, keyless])

    parsed = parse_transactions_with_dlq(
        _read_value_stream(spark, stream_dir)
    )
    dlq_dir = tempfile.mkdtemp()
    collected = []
    q_valid = start_foreach_batch_sink(
        parsed.filter("_corrupt IS NULL").drop("_corrupt"),
        lambda df, _id: collected.extend(df.collect()),
        output_mode="append",
        checkpoint_location=tempfile.mkdtemp(),
        swallow_errors=False,
    )
    q_dead = (
        parsed.filter("_corrupt IS NOT NULL")
        .select(F.col("_corrupt").alias("payload"))
        .writeStream.format("parquet")
        .option("path", dlq_dir)
        .option("checkpointLocation", tempfile.mkdtemp())
        .start()
    )
    try:
        q_valid.processAllAvailable()
        q_dead.processAllAvailable()
    finally:
        q_valid.stop()
        q_dead.stop()
    assert [r.transaction_id for r in collected] == ["t1"]
    dead = {r.payload for r in spark.read.parquet(dlq_dir).collect()}
    assert dead == {bad, keyless}
    shutil.rmtree(dlq_dir, ignore_errors=True)


def test_streaming_cms_merge_equals_batch(spark, stream_dir):
    """Mergeable-sketch streaming: per-micro-batch count-min sketches
    merged in the foreachBatch sink (counter addition — the sketch is
    <= depth*width entries, the realistic driver/state-store-held
    summary) reproduce EXACTLY the sketch a single batch pass over all
    rows builds — the property that lets per-ingest sketches roll up
    at 100 TB without re-reading history."""
    from collections import Counter

    from kafka_sparkstreaming_sbt_spark.operators.sketches import (
        cms_sketch,
    )

    batches = [
        [f"k{i % 7}" for i in range(20)],
        [f"k{i % 5}" for i in range(15)],
        ["k0"] * 4,
    ]
    for bi, lines in enumerate(batches):
        _write_batch(stream_dir, f"b{bi}", lines)

    merged: Counter = Counter()

    def sink(batch_df, _batch_id):
        keyed = batch_df.withColumnRenamed("value", "key")
        for r in cms_sketch(keyed, "key").collect():
            merged[(r.row, r.bucket)] += r.cnt

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(stream_dir)
    )
    q = start_foreach_batch_sink(
        raw, sink, output_mode="append", swallow_errors=False
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    whole = spark.createDataFrame(
        [(k,) for lines in batches for k in lines], ["key"]
    )
    batch_sketch = {
        (r.row, r.bucket): r.cnt for r in cms_sketch(whole, "key").collect()
    }
    assert dict(merged) == batch_sketch


def test_pipeline_observed_metrics(spark, stream_dir):
    """observe() metrics ride the decode pass: per-batch progress
    reports rows / total_amount / decode-failure counts without the
    reference's extra count() job (CSA:170)."""
    _write_batch(
        stream_dir,
        "b0",
        [
            _txn_json("o1", "1", "2025-03-10T12:01:00Z", 100.0),
            _txn_json("o2", "2", "2025-03-10T12:02:00Z", 50.5),
        ],
    )
    txns = parse_transactions(_read_value_stream(spark, stream_dir))
    seen = []
    q = run_spending_pipeline(
        txns,
        lambda df: df.count(),
        checkpoint_location=f"{stream_dir}/_ckpt",
        swallow_errors=False,
        observe_metrics=True,
    )
    try:
        q.processAllAvailable()
        for p in q.recentProgress:
            m = p["observedMetrics"].get("ingest")
            if m:
                seen.append((m["rows"], m["total_amount"], m["null_ts_rows"]))
    finally:
        q.stop()
    assert (2, 150.5, 0) in seen
