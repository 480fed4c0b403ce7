"""Measure registry queries and ingest triggers, one subcommand each:

  time Q...              bench.py's timing: one untimed warm-up, then the
                         min of $SPARK_GRAFT_BENCH_RUNS (default 3) noop
                         writes per query
  jobs Q...              one cold run per query: Spark jobs, stages and
                         tasks from the status store; task ms, shuffle
                         and spill bytes from the event log
  hash Q...              md5 over each query's sorted collected rows, to
                         diff two code states
  oracle [Q...]          each query against its DuckDB oracle, on a
                         plain local[8] session as the driver builds it;
                         with no names, the entry() smoke and then every
                         query
  plans DIR TAG [Q...]   formatted physical plans to DIR/<query>_<TAG>.txt
                         (all queries when none is named)
  ingest {dedup,multimodal}
                         the two-wave ingest probe: on_batch triples,
                         accepted ids and Spark jobs per trigger

Tables are read from $SPARK_GRAFT_SF_DIR: sf0.01 by default for
``oracle`` (the driver's correctness gate), sf0.1 (bench's) otherwise.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
import bench  # noqa: E402
from kafka_sparkstreaming_sbt_spark.plans import physical_plan  # noqa: E402
from kafka_sparkstreaming_sbt_spark.session import get_spark  # noqa: E402
from perfbench.tracing import JobGroups, eventlog_conf, eventlog_rollup  # noqa: E402
from tests.oracle_utils import normalize, run_oracle  # noqa: E402

SF_BENCH = "/root/testdata/sf0.1"
SF_GATE = "/root/testdata/sf0.01"
ROLLUP_KEYS = ("task_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _sf(default: str) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def _session(extra: dict | None = None):
    return get_spark(
        app_name="measure",
        extra_conf={"spark.ui.showConsoleProgress": "false", **(extra or {})},
    )


def _warm_session(spark, sf: str) -> None:
    """bench.py's session warm-up: JVM, codegen and footer caches."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf}/region.parquet").count()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cmd_time(args, qs) -> None:
    sf, spark = _sf(SF_BENCH), _session()
    _warm_session(spark, sf)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    total = 0.0
    for name in args.queries:
        best = float("inf")
        for i in range(runs + 1):  # run 0 is the untimed warm-up
            t0 = time.perf_counter()
            _noop(qs[name](spark, sf))
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            if i:
                best = min(best, dt)
        bench._driver_hygiene(spark)
        total += best
        print(f"{name:36s} {best:7.3f}s", flush=True)
    print(f"{'TOTAL':36s} {total:7.3f}s")
    spark.stop()


def cmd_jobs(args, qs) -> None:
    sf, rows = _sf(SF_BENCH), {}
    with tempfile.TemporaryDirectory(prefix="measure_eventlog_") as log_dir:
        spark = _session(eventlog_conf(log_dir))
        _warm_session(spark, sf)
        groups = JobGroups(spark)
        for name in args.queries:
            with groups.group(name):
                t0 = time.perf_counter()
                _noop(qs[name](spark, sf))
                wall = time.perf_counter() - t0
            rows[name] = {**groups.counts(name), "wall_s": round(wall, 3)}
            spark.catalog.clearCache()
        spark.stop()
        # the event log is complete only once the session has stopped
        rollup = eventlog_rollup(log_dir)
    for name, row in rows.items():
        row.update({k: int(rollup.get(name, {}).get(k, 0)) for k in ROLLUP_KEYS})
        print(f"{name:32s}", " ".join(f"{k}={v}" for k, v in row.items()))


def cmd_hash(args, qs) -> None:
    sf, spark = _sf(SF_BENCH), _session()
    for name in args.queries:
        rows = qs[name](spark, sf).collect()
        canon = sorted(repr(tuple(r)) for r in rows)
        h = hashlib.md5("\n".join(canon).encode()).hexdigest()
        print(f"{name:32s} rows={len(rows):8d} md5={h}", flush=True)
    spark.stop()


def cmd_oracle(args, qs) -> None:
    sf = _sf(SF_GATE)
    # the driver imports the entry module with its own plain session
    spark = SparkSession.builder.master("local[8]").appName("measure").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names, ok = args.queries, True
    if not names:
        print("session tz conf:", spark.conf.get("spark.sql.session.timeZone"))
        df = entry_mod.entry(spark)
        n = df.count()
        schema = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        print("entry rows:", n, "schema:", schema)
        names, ok = list(qs), n > 0
    sqls = entry_mod.oracle_sql()
    for name in names:
        df = qs[name](spark, sf)
        if name not in sqls:
            print(f"{name}: rows-only rows={df.count()}")
            continue
        got, want = normalize(df.toPandas()), normalize(run_oracle(sqls[name], sf))
        ok &= got == want
        print(f"{name}: spark={len(got)} oracle={len(want)} match={got == want}")
        if got != want:
            print("   first diffs:", [(a, e) for a, e in zip(got, want) if a != e][:3])
    print("ALL MATCH" if ok else "MISMATCH")
    spark.stop()
    sys.exit(0 if ok else 1)


def cmd_plans(args, qs) -> None:
    sf, spark = _sf(SF_BENCH), _session()
    os.makedirs(args.dir, exist_ok=True)
    for name in args.queries or qs:
        try:
            plan = physical_plan(qs[name](spark, sf))
        except Exception as exc:  # one broken plan must not stop the dump
            plan = f"PLAN FAILED: {exc!r}"
        with open(os.path.join(args.dir, f"{name}_{args.tag}.txt"), "w") as f:
            f.write(plan)
        print(name, flush=True)
    spark.stop()


# test_two_wave_e2e_all_five_reject_reasons's waves, as (doc_id, the id
# its text is made from, the id its vector is made from)
WAVES = (
    ((10, 0, 40), (11, 11, 1), (12, 12, 45), (13, 12, 46), (14, 14, 47)),
    ((20, 12, 53), (21, 21, 47), (22, 22, 60)),
)


def cmd_ingest(args, qs) -> None:
    from kafka_sparkstreaming_sbt_spark.streaming import ingest
    from tests.test_multimodal_ingest import SCHEMA, _corpus, _text, _vec

    spark, multimodal = _session(), args.driver == "multimodal"
    root = tempfile.mkdtemp(prefix="measure_ingest_")
    dirs = [
        os.path.join(root, d)
        for d in ("src", "acc", "ckpt", "cells")
    ]
    for d in dirs:
        os.makedirs(d)
    src, acc, ckpt, cells = dirs
    cols = ["doc_id", "text", "embedding"][: 3 if multimodal else 2]
    seen, stage_sec = [], {}
    opts = dict(
        exact=True, span_window_tokens=8, compact_every=1,
        on_batch=lambda bid, n, a: seen.append((bid, n, a)),
    )
    try:
        docs, emb = _corpus(spark)
        waves = [
            spark.createDataFrame(
                [(i, _text(t), _vec(v)) for i, t, v in wave], SCHEMA
            ).select(cols)
            for wave in WAVES
        ]
        stream = spark.readStream.schema(waves[0].schema).json(src)
        if multimodal:
            q = ingest.run_multimodal_ingest_pipeline(
                stream, docs, emb, acc, cells, ckpt, n_cells=2,
                method="numpy", stage_sec=stage_sec, **opts,
            )
        else:
            q = ingest.run_dedup_ingest_pipeline(stream, docs, acc, ckpt, **opts)
        # a streaming query runs its jobs in the group named by its runId
        groups, gid, jobs = JobGroups(spark), str(q.runId), []
        prev = set(groups.job_ids(gid))
        for wave in waves:
            wave.coalesce(1).write.mode("append").json(src)
            q.processAllAvailable()
            cur = set(groups.job_ids(gid))
            jobs.append(len(cur - prev))
            prev = cur
        q.stop()
        ids = sorted(r.doc_id for r in spark.read.parquet(acc).collect())
        print(f"{args.driver}: on_batch={seen} accepted={ids} jobs={jobs}")
        if stage_sec:
            print("stage_sec:", stage_sec)
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


def _parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="measure.py",
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    sub = parser.add_subparsers(required=True)
    for run, nargs in (
        (cmd_time, "+"), (cmd_jobs, "+"), (cmd_hash, "+"), (cmd_oracle, "*"),
    ):
        p = sub.add_parser(run.__name__[4:])
        p.add_argument("queries", nargs=nargs, metavar="Q")
        p.set_defaults(run=run)
    p = sub.add_parser("plans")
    p.add_argument("dir")
    p.add_argument("tag")
    p.add_argument("queries", nargs="*", metavar="Q")
    p.set_defaults(run=cmd_plans)
    p = sub.add_parser("ingest")
    p.add_argument("driver", choices=("dedup", "multimodal"))
    p.set_defaults(run=cmd_ingest)
    return parser


def main(argv: list[str] | None = None) -> None:
    parser = _parser()
    args = parser.parse_args(argv)
    qs = entry_mod.queries()
    unknown = [n for n in getattr(args, "queries", ()) if n not in qs]
    if unknown:
        parser.error(f"unknown query: {' '.join(unknown)}")
    args.run(args, qs)


if __name__ == "__main__":
    main()
