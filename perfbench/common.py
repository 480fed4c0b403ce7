"""Pieces every workload shares: the session, the engine's progress
reports, and the metric catalogue."""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import time

from perfbench.tracing import eventlog_conf


def start_session(conf: dict[str, str], work: str, trace: bool):
    """Start the library's session with the benchmark's settings.

    Returns the session and the seconds it took.  A traced run also
    writes an uncompressed event log under ``work/eventlog``."""
    from kafka_sparkstreaming_sbt_spark.session import get_spark

    extra = dict(conf)
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update(eventlog_conf(log_dir))
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark=None) -> None:
    """Stop the session (by default the active one), then the JVM it
    runs in, and wait for the JVM to exit; its Python workers exit with
    it.  Does nothing once the JVM is gone."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when the pipe it reads from closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def progress_records(query) -> list[dict]:
    """The query's retained progress reports as plain dicts, oldest
    first.  Idle triggers report too, with ``numInputRows`` 0."""
    return [json.loads(p.json) for p in query.recentProgress]


def settled_progress(query, total_rows: int, timeout: float = 30.0) -> list[dict]:
    """Progress reports once they account for ``total_rows`` input rows.

    A trigger's report is published as it finishes, which can trail the
    commit ``processAllAvailable`` waits for."""
    deadline = time.perf_counter() + timeout
    while True:
        progress = progress_records(query)
        seen = sum(p["numInputRows"] for p in progress)
        if seen >= total_rows or time.perf_counter() > deadline:
            return progress
        time.sleep(0.01)


def trigger_interval(progress: dict) -> tuple[float, float]:
    """Wall-clock (epoch seconds) start and end of one trigger."""
    start = dt.datetime.fromisoformat(
        progress["timestamp"].replace("Z", "+00:00")
    ).timestamp()
    return start, start + progress["durationMs"]["triggerExecution"] / 1000.0


def spans_path(workload: str, seed: int) -> str:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(
        root, ".perfbench_work", "spans", f"{workload}-seed{seed}.json"
    )


#: end-to-end metrics every workload reports, with units
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "throughput_per_s": "1/s",
    "batch_total_s": "s",
    "query_p50_s": "s",
}
_QUERY_FIELDS = {
    "build_s": "s", "exec_s": "s", "jobs": "count", "stages": "count",
    "tasks": "count", "checkpoints": "count", "task_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
}
#: per-layer metrics a traced run reports; a layer the workload does
#: not reach reads 0
PER_LAYER = {
    "engine.trigger_s": "s",
    "engine.add_batch_s": "s",
    "engine.plan_s": "s",
    "engine.offsets_s": "s",
    "engine.wal_s": "s",
    "engine.triggers": "count",
    "engine.jobs_per_trigger": "count",
    "state.rows": "count",
    "state.mem_mb": "MB",
    "state.commit_s": "s",
    "state.update_s": "s",
    "sources.sink_write_s": "s",
    "sources.sink_rows": "count",
    **{f"query.{k}": u for k, u in _QUERY_FIELDS.items()},
    **{f"query.{k}.small": u for k, u in _QUERY_FIELDS.items()},
    "self.sources_s": "s",
    "self.operators_s": "s",
    "self.query_s": "s",
    "session.start_s": "s",
    "bench.generator_late_s": "s",
    "bench.trace_overhead_frac": "ratio",
    "bench.trace_extra_jobs": "count",
}


def finish_layers(layer: dict, tracer) -> dict:
    """Add each layer's span self time and zero-fill every per-layer
    metric the workload does not reach, in catalogue order."""
    for name, seconds in tracer.layer_self_seconds().items():
        key = f"self.{name}_s"
        if key in PER_LAYER:
            layer[key] = (seconds, "s")
    return {k: layer.get(k, (0, u)) for k, u in PER_LAYER.items()}
