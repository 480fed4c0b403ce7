"""``spend_stream``: the paper's own topology, driven open loop.

One generator thread writes files of the producer's JSON wire shape
into a file source on a fixed schedule; the library's spending pipeline
(decode -> dedup -> watermark -> sliding windows -> daily rollup)
appends every trigger's daily totals to an embedded Derby table through
``write_jdbc_append``.  After the open-loop phase the same warm query
drains fixed backlogs, which gives the throughput.

Latency of an event runs from the moment it was due to be produced
until the trigger that committed its output ends.  Every file holds
the same number of rows and the file source takes files in the order
they were written, so the cumulative ``numInputRows`` of the engine's
progress reports maps each file to its trigger.
"""

from __future__ import annotations

import os
import random
import threading
import time

from perfbench.common import (
    finish_layers,
    settled_progress,
    spans_path,
    start_session,
    stop_session,
    trigger_interval,
)
from perfbench.tracing import JobGroups, Tracer, median, percentile

#: offered rate, events per second: a few percent of what one ~1 s
#: trigger absorbs, so the open loop runs well under capacity
RATE = 400
#: the generator writes one file per tick; every file holds RATE*TICK rows
TICK_S = 0.1
ROWS_PER_FILE = int(RATE * TICK_S)
CUSTOMERS = 1000
MERCHANTS = 500
#: share of events that re-send an earlier transaction unchanged, as
#: at-least-once delivery does
REDELIVERY = 0.05
#: event time trails the due time by up to this much; with whole-second
#: truncation an event stays < 3 s behind, inside the 5 s watermark
MAX_JITTER_S = 2.0
#: untimed triggers before timing: the first trigger compiles and loads
#: classes, and walls keep falling over the next ones as the JIT warms
WARMUP_TRIGGERS = 2
#: then an untimed open loop this long, as the timed one runs: trigger
#: walls still fall by about a fifth over its first seconds
WARMUP_OPEN_S = 10.0
#: ``latency_p99_s`` is the p99 of the events due in each window of
#: this many seconds, median over the open loop's windows: one trigger
#: slowed by a neighbour on the host moves one window, not the figure.
#: A window holds about 1100 fresh events, so ten or more lie beyond
#: its p99
P99_WINDOW_S = 3.0
#: rows of the backlog each drain writes at once
BACKLOG_ROWS = 20_000
DRAINS = 3
#: the backlog file (about 4 MB) is read in splits of this size, so its
#: decode runs as parallel tasks, as a backlog spread over several Kafka
#: partitions would; the open loop's files are far smaller
BACKLOG_SPLIT_BYTES = 2**20

PAYMENT_METHODS = ("Credit Card", "Debit Card", "PayPal", "UPI", "Net Banking")
STATUSES = ("Success", "Pending", "Failed")
DERBY_URL = "jdbc:derby:memory:perfbench;create=true"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
SINK_TABLE = "daily_spend"


class Producer:
    """Seeded source of transaction payloads in the producer's wire
    shape.  Remembers every distinct transaction for the output check."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.cents: dict[str, tuple[str, int]] = {}
        self._recent: list[str] = []

    def payload(self, due: float) -> tuple[str, bool]:
        """One JSON line due at epoch ``due``; True when it is new."""
        rng = self.rng
        if self._recent and rng.random() < REDELIVERY:
            return rng.choice(self._recent), False
        txn = f"{rng.getrandbits(128):032x}"
        customer = str(rng.randint(1, CUSTOMERS))
        cents = rng.randint(0, 100_000)
        ts = time.strftime(
            "%Y-%m-%dT%H:%M:%SZ",
            time.gmtime(int(due - rng.uniform(0.0, MAX_JITTER_S))),
        )
        line = (
            f'{{"transaction_id":"{txn}","customer_id":"{customer}",'
            f'"merchant_id":{rng.randint(1, MERCHANTS)},'
            f'"timestamp":"{ts}","amount":{cents / 100:.2f},'
            f'"payment_method":"{rng.choice(PAYMENT_METHODS)}",'
            f'"status":"{rng.choice(STATUSES)}"}}'
        )
        self.cents[txn] = (customer, cents)
        self._recent = (self._recent + [line])[-200:]
        return line, True


class FileFeed:
    """Writes equal-sized files into the source directory atomically,
    in order, and remembers each file's per-row due times."""

    def __init__(self, src_dir: str, producer: Producer):
        self.src_dir = src_dir
        self.producer = producer
        self.files: list[dict] = []
        self.rows = 0

    def write(self, dues: list[float]) -> dict:
        lines, fresh = [], []
        for due in dues:
            line, new = self.producer.payload(due)
            lines.append(line)
            fresh.append(new)
        idx = len(self.files)
        tmp = os.path.join(self.src_dir, f".part-{idx:06d}")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(self.src_dir, f"part-{idx:06d}.json"))
        rec = {"rows": len(dues), "dues": dues, "fresh": fresh,
               "written": time.time()}
        self.files.append(rec)
        self.rows += len(dues)
        return rec


def open_loop(feed: FileFeed, seconds: float) -> tuple[int, int, float]:
    """Run the generator thread for ``seconds``; returns the first and
    one-past-last file index it wrote and its worst lateness."""
    first = len(feed.files)
    late = [0.0]

    def generate() -> None:
        t0 = time.time()
        n_ticks = int(round(seconds / TICK_S))
        for j in range(n_ticks):
            due_last = t0 + (j + 1) * TICK_S
            wait = due_last - time.time()
            if wait > 0:
                time.sleep(wait)
            base = j * ROWS_PER_FILE
            dues = [t0 + (base + i + 1) / RATE for i in range(ROWS_PER_FILE)]
            rec = feed.write(dues)
            late[0] = max(late[0], rec["written"] - due_last)

    th = threading.Thread(target=generate, name="perfbench-generator")
    th.start()
    th.join()
    return first, len(feed.files), late[0]


def file_triggers(files: list[dict], progress: list[dict]) -> list[dict]:
    """The progress report of the trigger that read each file.

    File ``i`` is read by the first trigger whose cumulative input rows
    reach the rows of files ``0..i``."""
    triggers = [p for p in progress if p["numInputRows"] > 0]
    out, t, cum, rows = [], 0, 0, 0
    for rec in files:
        rows += rec["rows"]
        while cum < rows:
            cum += triggers[t]["numInputRows"]
            t += 1
        out.append(triggers[t - 1])
    return out


def event_latencies(feed: FileFeed, progress: list[dict], lo: int, hi: int):
    """Per-event latency for fresh events of files ``lo..hi-1``, one list
    per file, and the progress reports of the triggers that read them."""
    lat, used = [], []
    for rec, p in list(zip(feed.files, file_triggers(feed.files[:hi], progress)))[lo:]:
        if not used or used[-1] is not p:
            used.append(p)
        end = trigger_interval(p)[1]
        lat.append([end - d for d, new in zip(rec["dues"], rec["fresh"]) if new])
    return lat, used


def windowed_p99(lat_by_file: list[list[float]]) -> tuple[float, int]:
    """p99 latency of each whole ``P99_WINDOW_S`` window of files, median
    over the windows, and the number of windows.  Fewer files than one
    window make a single window."""
    per = max(1, int(round(P99_WINDOW_S / TICK_S)))
    chunks = [lat_by_file[i:i + per] for i in range(0, len(lat_by_file), per)]
    chunks = [c for c in chunks if len(c) == per] or [lat_by_file]
    p99s = [percentile([x for f in c for x in f], 99) for c in chunks]
    return median(p99s), len(p99s)


def create_sink(spark) -> None:
    conn = spark._jvm.java.sql.DriverManager.getConnection(DERBY_URL)
    try:
        st = conn.createStatement()
        st.executeUpdate(
            f"CREATE TABLE {SINK_TABLE} (customer_id VARCHAR(16) NOT NULL, "
            "transaction_date DATE NOT NULL, total_spent DOUBLE)"
        )
        st.close()
    finally:
        conn.close()


def sink_row_count(spark) -> int:
    """Rows in the sink, read over a plain JDBC connection (no Spark job)."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(DERBY_URL)
    try:
        st = conn.createStatement()
        rs = st.executeQuery(f"SELECT COUNT(*) FROM {SINK_TABLE}")
        rs.next()
        n = rs.getLong(1)
        st.close()
        return n
    finally:
        conn.close()


def check_totals(spark, cfg, producer: Producer) -> list[str]:
    """Per-customer totals in the sink against an independent sum over
    the distinct generated transactions, to the cent."""
    from pyspark.sql import functions as F

    from kafka_sparkstreaming_sbt_spark.sources import jdbc

    got = {
        r["customer_id"]: r["total"]
        for r in jdbc.jdbc_reader(spark, cfg)
        .load()
        .groupBy("customer_id")
        .agg(F.sum("total_spent").alias("total"))
        .collect()
    }
    want: dict[str, int] = {}
    for customer, cents in producer.cents.values():
        want[customer] = want.get(customer, 0) + cents
    errors = []
    for customer in sorted(set(got) | set(want)):
        g, w = got.get(customer), want.get(customer, 0) / 100
        if g is None or abs(g - w) >= 0.005:
            errors.append(f"customer {customer}: sink {g} != generated {w:.2f}")
    return errors


class Phase:
    """One timed phase on the running query: the open loop, then the
    drains.  Also counts the Spark jobs the query's triggers ran."""

    def __init__(self, feed, query, seconds, jobs):
        self.feed, self.query, self.seconds = feed, query, seconds
        self.jobs = jobs

    def run(self) -> dict:
        gid = str(self.query.runId)
        jobs_before = len(self.jobs.job_ids(gid))
        n_before = len(settled_progress(self.query, self.feed.rows))
        lo, hi, late = open_loop(self.feed, self.seconds)
        self.query.processAllAvailable()
        n_open = len(settled_progress(self.query, self.feed.rows))
        drains = []
        for _ in range(DRAINS):
            # one file, so the whole backlog lands in one trigger
            self.feed.write([time.time()] * BACKLOG_ROWS)
            t0 = time.perf_counter()
            self.query.processAllAvailable()
            drains.append(time.perf_counter() - t0)
        progress = settled_progress(self.query, self.feed.rows)
        lat_by_file, used = event_latencies(self.feed, progress, lo, hi)
        ran = [p for p in progress[n_before:] if p["numInputRows"] > 0]
        return {
            "lat": [x for f in lat_by_file for x in f],
            "lat_by_file": lat_by_file,
            "triggers": used,
            "drain_triggers": [
                p for p in progress[n_open:] if p["numInputRows"] > 0
            ],
            "drains": drains,
            "late": late,
            "jobs_per_trigger": (len(self.jobs.job_ids(gid)) - jobs_before)
            / max(len(ran), 1),
            "n_triggers": len(ran),
        }


def run(seed, seconds, trace, work, conf, process_start) -> dict:
    src = os.path.join(work, "src")
    os.makedirs(src)
    tracer = Tracer(trace)
    spark, session_s = start_session(
        {**conf, "spark.sql.files.maxPartitionBytes": str(BACKLOG_SPLIT_BYTES)},
        work, trace,
    )

    import kafka_sparkstreaming_sbt_spark.streaming.pipeline as pipeline
    from kafka_sparkstreaming_sbt_spark.sources import jdbc, kafka

    cfg = jdbc.JdbcConfig(
        url=DERBY_URL, table=SINK_TABLE, driver=DERBY_DRIVER, num_partitions=2
    )
    create_sink(spark)
    producer = Producer(seed)
    feed = FileFeed(src, producer)

    def write_daily(daily) -> None:
        jdbc.write_jdbc_append(daily, cfg)

    attempted = failed = 0
    errors: list[str] = []
    plain = traced = None
    query = pipeline.run_spending_pipeline(
        kafka.parse_transactions(spark.readStream.text(src)),
        write_daily,
        checkpoint_location=os.path.join(work, "checkpoint"),
        swallow_errors=False,
    )
    try:
        for _ in range(WARMUP_TRIGGERS):
            feed.write([time.time()] * ROWS_PER_FILE)
            query.processAllAvailable()
        # one untimed drain: the first backlog trigger of a run is the slowest
        feed.write([time.time()] * BACKLOG_ROWS)
        query.processAllAvailable()
        open_loop(feed, WARMUP_OPEN_S)
        query.processAllAvailable()
        setup_s = time.perf_counter() - process_start
        phase = Phase(feed, query, seconds, JobGroups(spark))
        plain = phase.run()
        if trace:
            tracer.wrap(jdbc, "write_jdbc_append", "sources.write_jdbc_append")
            tracer.wrap(pipeline, "daily_rollup", "operators.daily_rollup")
            rows_before = sink_row_count(spark)
            traced = phase.run()
            traced["sink_rows"] = sink_row_count(spark) - rows_before
            tracer.unwrap_all()
            # untraced again, so the overhead is judged against phases on
            # both sides of the traced one while the JIT keeps warming
            traced["after"] = phase.run()
    except Exception as exc:  # noqa: BLE001 -- a raising trigger is a failed operation
        errors.append(f"query failed: {exc!r}")
        failed += 1
        plain = None
    finally:
        query.stop()
    attempted += 1
    if plain is not None:
        errors = check_totals(spark, cfg, producer)
        failed += bool(errors)
        attempted += 1
    stop_session(spark)

    notes = [f"spend_stream: {e}" for e in errors[:5]]
    if plain is None:
        return {"attempted": attempted, "failed": failed, "notes": notes,
                "end_to_end": {}, "layer": {}}
    lat = plain["lat"]
    trig = [p["durationMs"]["triggerExecution"] / 1000 for p in plain["triggers"]]
    drains = plain["drains"]
    p99, windows = windowed_p99(plain["lat_by_file"])
    notes.append(
        f"spend_stream: {len(lat)} latency samples over {len(trig)} triggers"
        f" and {windows} windows of {P99_WINDOW_S:g} s,"
        f" generator late by {plain['late']:.4f} s at most,"
        f" {plain['jobs_per_trigger']:.2f} jobs per trigger; trigger walls "
        + " ".join(f"{t:.2f}" for t in trig)
        + "; drains " + " ".join(f"{t:.2f}" for t in drains)
    )
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (percentile(lat, 50), "s"),
        "latency_p99_s": (p99, "s"),
        # best drain: contention from outside the run only ever adds time
        "throughput_per_s": (BACKLOG_ROWS / min(drains), "1/s"),
        "batch_total_s": (min(drains), "s"),
        "query_p50_s": (median(trig), "s"),
    }
    layer = {}
    if traced is not None:
        layer = finish_layers(spend_layers(traced, plain, tracer, session_s), tracer)
        tracer.write(spans_path("spend_stream", seed))
    return {"attempted": attempted, "failed": failed, "notes": notes,
            "end_to_end": e2e, "layer": layer}


def spend_layers(traced, plain, tracer, session_s) -> dict:
    trig = traced["triggers"]

    def p50(key_fn):
        return median([key_fn(p) for p in trig])

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys) / 1000

    def state(p, key):
        """Summed over the stateful operators (dedup and the windows)."""
        return sum(op[key] for op in p["stateOperators"])

    last = traced["drain_triggers"][-1]
    sink_s, _ = tracer.busy("sources.write_jdbc_append")
    return {
        "engine.trigger_s": (p50(lambda p: dur(p, "triggerExecution")), "s"),
        "engine.add_batch_s": (p50(lambda p: dur(p, "addBatch")), "s"),
        "engine.plan_s": (p50(lambda p: dur(p, "queryPlanning")), "s"),
        "engine.offsets_s": (p50(lambda p: dur(p, "latestOffset", "getBatch")), "s"),
        "engine.wal_s": (p50(lambda p: dur(p, "walCommit", "commitOffsets")), "s"),
        "engine.triggers": (traced["n_triggers"], "count"),
        "engine.jobs_per_trigger": (traced["jobs_per_trigger"], "count"),
        "state.rows": (state(last, "numRowsTotal"), "count"),
        "state.mem_mb": (state(last, "memoryUsedBytes") / 2**20, "MB"),
        "state.commit_s": (p50(lambda p: state(p, "commitTimeMs") / 1000), "s"),
        "state.update_s": (p50(lambda p: state(p, "allUpdatesTimeMs") / 1000), "s"),
        "sources.sink_write_s": (sink_s / max(traced["n_triggers"], 1), "s"),
        "sources.sink_rows": (traced["sink_rows"], "count"),
        "session.start_s": (session_s, "s"),
        "bench.generator_late_s": (traced["late"], "s"),
        "bench.trace_overhead_frac": (
            2 * percentile(traced["lat"], 50)
            / (percentile(plain["lat"], 50) + percentile(traced["after"]["lat"], 50))
            - 1,
            "ratio",
        ),
    }
