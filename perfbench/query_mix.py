"""``query_mix``: a fixed list of registry queries, one client, closed loop.

Each query is built through ``__spark_entry__.queries()[name](spark,
sf_dir)`` and forced with a noop write; the next starts when the
previous returns.  Before timing starts every query runs untimed
``WARMUP_PASSES`` times, then once more with its rows checked against
the query's DuckDB oracle.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import time

from perfbench.common import finish_layers, spans_path, start_session, stop_session
from perfbench.tables import write_tables
from perfbench.tracing import JobGroups, Tracer, eventlog_rollup, median, percentile

SF = 0.01
#: drawn from the registry's first 50 entries (its correctness-gate
#: window): the sub-second pool first, then the heavy chains
SMALL_POOL = (
    "daily_spending_rollup",
    "json_decode_props",
    "revenue_by_nation",
    "user_sessions",
)
HEAVY = ("minhash_near_dup",)
QUERIES = SMALL_POOL + HEAVY
#: untimed passes before the checking pass and timing: first runs
#: compile code and load classes, and pass walls keep falling by about
#: a third over the next several
WARMUP_PASSES = 4
#: timed passes over QUERIES a run makes at least
MIN_PASSES = 4
CHECKPOINT_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")


def canon(v) -> str:
    """The oracle gate's value canonicalisation: floats to 6 dp,
    timestamps to naive ISO, NULL and NaN alike."""
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def canon_rows(frame) -> list[tuple]:
    cols = sorted(frame.columns)
    return sorted(
        tuple(canon(v) for v in row)
        for row in frame[cols].itertuples(index=False, name=None)
    )


def oracle_check(spark, registry, oracle, sf_dir, tables) -> tuple[list[str], int]:
    """Run each query once, untimed, and compare its rows with its
    DuckDB oracle.  Returns errors and the number checked."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'"
        )
    errors = []
    for name in QUERIES:
        try:
            got = canon_rows(registry[name](spark, sf_dir).toPandas())
        except Exception as exc:  # noqa: BLE001 -- a raising query is a failure
            errors.append(f"{name} raised {exc!r}")
            continue
        want = canon_rows(con.execute(oracle[name]).df())
        if got != want:
            errors.append(f"{name}: {len(got)} rows differ from oracle ({len(want)})")
    con.close()
    return errors, len(QUERIES)


class Client:
    """Runs the list closed loop and records each execution."""

    def __init__(self, spark, registry, sf_dir, tracer, jobs):
        self.spark, self.registry, self.sf_dir = spark, registry, sf_dir
        self.tracer, self.jobs = tracer, jobs
        self.failed = 0

    def execute(self, name: str, gid: str) -> dict:
        with self.jobs.group(gid), self.tracer.span("query", group=gid):
            t0 = time.perf_counter()
            with self.tracer.span("query.build", group=gid):
                df = self.registry[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            with self.tracer.span("query.exec", group=gid):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        return {"name": name, "gid": gid, "build": t1 - t0, "exec": t2 - t1,
                "wall": t2 - t0}

    def passes(self, seconds: float, tag: str, min_passes: int = MIN_PASSES):
        """Passes over QUERIES for ``seconds``, and at least ``min_passes``;
        one list of executions per pass."""
        out: list[list[dict]] = []
        deadline = time.perf_counter() + seconds
        while len(out) < min_passes or time.perf_counter() < deadline:
            one = []
            for name in QUERIES:
                gid = f"{tag}{len(out)}:{name}"
                try:
                    one.append(self.execute(name, gid))
                except Exception:  # noqa: BLE001 -- counted as a failed operation
                    self.failed += 1
            out.append(one)
        return out


def end_to_end(setup_s: float, passes: list[list[dict]]) -> dict:
    """Every figure uses each query's best wall over the passes, as
    contention from outside the run only ever adds time.  On this mix
    ``latency_p50_s`` is therefore the same figure as ``query_p50_s``."""
    walls = {}
    for e in (e for p in passes for e in p):
        walls.setdefault(e["name"], []).append(e["wall"])
    best = [min(w) for w in walls.values()]
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (percentile(best, 50), "s"),
        "latency_p99_s": (percentile(best, 99), "s"),
        "throughput_per_s": (len(best) / sum(best), "1/s"),
        "batch_total_s": (sum(best), "s"),
        "query_p50_s": (median(best), "s"),
    }


def run(seed, seconds, trace, work, conf, process_start) -> dict:
    sf_dir = os.path.join(work, "sf")
    tables = write_tables(seed, SF, sf_dir)
    tracer = Tracer(trace)
    spark, session_s = start_session(conf, work, trace)

    import __spark_entry__ as entry

    registry, oracle = entry.queries(), entry.oracle_sql()
    jobs = JobGroups(spark)
    client = Client(spark, registry, sf_dir, Tracer(False), jobs)
    client.passes(0, "w", min_passes=WARMUP_PASSES)
    # the checking pass doubles as the last warm-up pass
    t0 = time.perf_counter()
    errors, checked = oracle_check(spark, registry, oracle, sf_dir, tables)
    check_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - process_start

    plain = client.passes(seconds, "u")
    traced = after = None
    if trace:
        # the session's frames are the classic subclass, which defines
        # these methods itself
        from pyspark.sql.classic.dataframe import DataFrame

        for attr in CHECKPOINT_METHODS:
            tracer.wrap(DataFrame, attr, f"operators.{attr}")
        client.tracer = tracer
        traced = client.passes(seconds, "t")
        tracer.unwrap_all()
        counts = {e["gid"]: jobs.counts(e["gid"]) for p in traced for e in p}
        client.tracer = Tracer(False)
        # untraced again, so the overhead is judged against passes on
        # both sides of the traced ones while the JIT keeps warming
        after = client.passes(seconds, "a")
    plain_jobs = [sum(len(jobs.job_ids(e["gid"])) for e in p) for p in plain]
    attempted = checked + sum(len(p) for p in plain)
    attempted += sum(len(p) for p in (traced or []) + (after or []))
    failed = len(errors) + client.failed
    stop_session(spark)

    notes = [f"query_mix: {e}" for e in errors[:5]]
    notes.append(
        f"query_mix: {len(plain)} timed passes over {len(QUERIES)} queries, "
        f"jobs per pass {plain_jobs}; session {session_s:.1f} s, oracle check "
        f"{check_s:.1f} s, timed passes "
        + " ".join(f"{sum(e['wall'] for e in p):.2f}" for p in plain)
    )
    layer = {}
    if traced is not None:
        layer = finish_layers(
            query_layers(traced, plain + after, plain_jobs, tracer, counts, work,
                         session_s),
            tracer,
        )
        tracer.write(spans_path("query_mix", seed))
    return {"attempted": attempted, "failed": failed, "notes": notes,
            "end_to_end": end_to_end(setup_s, plain), "layer": layer}


def query_layers(traced, plain, plain_jobs, tracer, counts, work, session_s) -> dict:
    rollup = eventlog_rollup(os.path.join(work, "eventlog"))
    checkpoints: dict[str, int] = {}
    for s in tracer.closed_spans():
        if s["name"].startswith("operators."):
            checkpoints[s["group"]] = checkpoints.get(s["group"], 0) + 1

    def per_query(pool, fn):
        """Per-pass total over the queries in ``pool``, median of passes."""
        return median([
            sum(fn(e) for e in p if e["name"] in pool) for p in traced
        ])

    def mb(key):
        return lambda e: rollup.get(e["gid"], {}).get(key, 0.0) / 2**20

    fields = {
        "build_s": (lambda e: e["build"], "s"),
        "exec_s": (lambda e: e["exec"], "s"),
        "jobs": (lambda e: counts[e["gid"]]["jobs"], "count"),
        "stages": (lambda e: counts[e["gid"]]["stages"], "count"),
        "tasks": (lambda e: counts[e["gid"]]["tasks"], "count"),
        "checkpoints": (lambda e: checkpoints.get(e["gid"], 0), "count"),
        "task_s": (lambda e: rollup.get(e["gid"], {}).get("task_ms", 0.0) / 1000, "s"),
        "shuffle_read_mb": (mb("shuffle_read_bytes"), "MB"),
        "shuffle_write_mb": (mb("shuffle_write_bytes"), "MB"),
        "spill_mb": (mb("spill_bytes"), "MB"),
    }
    out = {}
    for key, (fn, unit) in fields.items():
        out[f"query.{key}"] = (per_query(QUERIES, fn), unit)
        out[f"query.{key}.small"] = (per_query(SMALL_POOL, fn), unit)
    plain_total = median([sum(e["wall"] for e in p) for p in plain])
    traced_total = median([sum(e["wall"] for e in p) for p in traced])
    out["session.start_s"] = (session_s, "s")
    out["bench.trace_overhead_frac"] = (traced_total / plain_total - 1, "ratio")
    traced_jobs = median([sum(counts[e["gid"]]["jobs"] for e in p) for p in traced])
    out["bench.trace_extra_jobs"] = (traced_jobs - median(plain_jobs), "count")
    return out
