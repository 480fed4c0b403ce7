"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload spend_stream --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of this repository: the benchmark
imports the library from there and keeps every file it writes under
``.perfbench_work/`` in that root.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` splits ``--seconds`` into three timed phases, the
middle one with spans recorded, and prints the per-layer metrics.
Workloads, metrics and the layer each metric belongs to are described in
``perfbench/WORKLOADS.md``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("spend_stream", "query_mix")
#: Spark driver heap: well under the 16 GB of the 4-core machine the
#: benchmark was sized on, leaving headroom when memory is shared
DRIVER_MEM = "3g"


def pin_environment(work: str) -> dict[str, str]:
    """Environment and session settings every workload runs under.

    Set here rather than in the library so that the library's own
    defaults (32 cores, 16 GB) stay what its other callers expect.
    Must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            # Python workers import the library's UDF modules
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    tempfile.tempdir = tmp
    java_opts = " ".join(
        [
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        ]
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        # the status store must still hold every job and stage the run
        # counts when it reads them
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
    }


def library_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "kafka_sparkstreaming_sbt_spark", "__init__.py")
    ) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))


def result_line(outcome: dict, trace: bool) -> str:
    metrics = outcome["layer" if trace else "end_to_end"]
    return json.dumps(
        {
            "correct": outcome["failed"] == 0,
            "attempted": outcome["attempted"],
            "failed": outcome["failed"],
            "metrics": {
                name: {"value": value, "unit": unit}
                for name, (value, unit) in metrics.items()
            },
        }
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    if not library_present():
        print(
            f"library not found under {ROOT}: run from a checkout of the "
            "repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    conf = pin_environment(work)
    module = importlib.import_module(f"perfbench.{args.workload}")
    try:
        outcome = module.run(
            seed=args.seed,
            # a traced run times three phases: untraced, traced, untraced
            seconds=args.seconds / 3 if args.trace else args.seconds,
            trace=bool(args.trace),
            work=work,
            conf=conf,
            process_start=PROCESS_START,
        )
    finally:
        from perfbench.common import stop_session

        stop_session()
        shutil.rmtree(work, ignore_errors=True)
    for line in outcome.get("notes", []):
        print(line)
    print(result_line(outcome, bool(args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
