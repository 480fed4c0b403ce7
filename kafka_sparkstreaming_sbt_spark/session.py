"""SparkSession construction.

The reference builds its session with ``master("local[*]")`` and forces
the session timezone to UTC (CustomerSpendingAnalysis.scala:11-14, :66,
:189-192).  We centralize that here and add the scale-oriented defaults
the reference leaves implicit: AQE for batch re-planning, Arrow for any
Pandas interchange, and a shuffle-partition count sized to the local
core count instead of Spark's default 200 (on a real cluster this is
overridden per deployment; the point is it is *configured*, not
defaulted).
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
#: Spark's FileSystem-based checkpoint manager: Spark 4 name, then Spark 3
FS_CHECKPOINT_MANAGERS = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager",
    "org.apache.spark.sql.execution.streaming."
    "FileSystemBasedCheckpointFileManager",
)


def get_spark(
    app_name: str = "kafka_sparkstreaming_sbt_spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with UTC + AQE + Arrow defaults.

    Mirrors the reference's session setup (CustomerSpendingAnalysis
    .scala:186-195) — UTC session timezone, local[*] default master —
    with cluster-honest shuffle sizing.  The reference's
    ``stateStore.maintenanceInterval=60s`` line is carried as written,
    but it is Spark's default and turns nothing on: state maintenance
    (snapshots, cleanup of old versions) runs in the background every
    60 s either way, and the state commit stays on each trigger.

    On a local master, checkpointed streaming queries write their
    checkpoint through Spark's FileSystem-based checkpoint manager
    (:func:`local_checkpoint_manager`), unless ``extra_conf`` or the
    session already names one.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # local-mode driver JVM IS the whole cluster; Spark's 1g
        # default starves broadcast builds and shuffle buffers (only
        # effective before the JVM launches — a no-op on getOrCreate
        # of an existing session, e.g. under the driver harness)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata parquet carries naive (isAdjustedToUTC=false)
        # microsecond timestamps; with NTZ inference on, Spark 4 maps
        # them to TIMESTAMP_NTZ, which breaks timestamp arithmetic
        # against the UTC-session TimestampType the pipeline uses.
        # Reading them as TimestampType directly (wall clock == UTC
        # instant under the UTC session TZ) also keeps timestamp
        # predicates pushable into the scan, which a cast-on-read
        # normalization would forfeit.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # the reference's line (CustomerSpendingAnalysis.scala:16),
        # carried as written; 60 s is Spark's default maintenance
        # interval, so it changes nothing
        .config(
            "spark.sql.streaming.stateStore.maintenanceInterval", "60s"
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    manager = local_checkpoint_manager(spark)
    if manager is not None:
        spark.conf.set(CHECKPOINT_MANAGER_KEY, manager)
    return spark


def wants_fs_checkpoint_manager(master: str, preset: str | None) -> bool:
    """Whether :func:`get_spark` picks the FileSystem checkpoint
    manager: on a ``local`` / ``local[...]`` master, when no manager is
    named yet (``preset`` is the key's current value)."""
    local = master == "local" or master.startswith("local[")
    return preset is None and local


def local_checkpoint_manager(spark: SparkSession) -> str | None:
    """The checkpoint manager class :func:`get_spark` sets, or None to
    keep the session's.

    Spark's default manager renames through Hadoop's ``FileContext``.
    pip-installed PySpark ships no native ``libhadoop``, so on a local
    checkpoint each such rename starts ``readlink`` processes: about
    150-200 per trigger of the spending pipeline, paid in the WAL
    write, the commit log and every state-store commit.  The
    FileSystem manager renames through ``LocalFileSystem.rename`` and
    starts none.  (Creating a file still starts a ``chmod`` under
    both.)  The checkpoint layout and Spark's checkpoint checksums
    stay the same.

    One behaviour differs, inside the manager contract's best-effort
    overwrite: a state delta or snapshot written over an existing one
    (``createAtomic(overwriteIfPossible=True)``) keeps the first file,
    and leaves the new one's hidden temp file beside it.  A
    ``local[N]`` master runs no task retries, so that happens only
    when a restarted query re-runs its uncommitted last batch, whose
    delta holds the same rows.  Write-once files (offsets, commits)
    still raise ``FileAlreadyExistsException`` under both managers.

    Resolved in the running JVM, because Spark 4 moved the class
    under ``checkpointing``; None when neither name loads.
    """
    preset = spark.conf.get(CHECKPOINT_MANAGER_KEY, None)
    if not wants_fs_checkpoint_manager(spark.sparkContext.master, preset):
        return None
    for name in FS_CHECKPOINT_MANAGERS:
        try:
            spark._jvm.org.apache.spark.util.Utils.classForName(
                name, False, False
            )
        except Py4JJavaError:
            continue
        return name
    return None
