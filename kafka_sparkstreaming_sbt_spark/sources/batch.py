"""Batch sources (SURVEY.md §2.1 S3): parquet testdata tables and
in-memory fixtures.

Parquet reads go through one seam, :func:`read_parquet`, with a
DECLARED schema: the testdata tables' schemas live in
``schemas.TABLE_SCHEMAS`` and each lake artifact's next to its writer.
A read without a schema makes Spark infer one while the plan is built,
and that inference is a Spark job of its own (a footer-read task) on
every read, which a sub-second query pays once per table it reads.  A
declared read is still a plain parquet scan, so Catalyst drives column
pruning and predicate pushdown into it — at 100 TB the scan is the
dominant cost and every query in this repo projects and filters
*before* any shuffle, which ``.explain`` confirms reaches the scan node
(``ReadSchema`` / ``PushedFilters``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_sparkstreaming_sbt_spark.schemas import TABLE_SCHEMAS

#: Tables the driver materializes at each scale factor (TESTDATA.md).
TABLES = tuple(TABLE_SCHEMAS)


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None
) -> DataFrame:
    """Read ``path`` with a declared ``schema``, which costs no Spark
    job at plan-build time.  Columns are matched by name: a declared
    column the files lack reads as null, and a declared type the files
    can't be read as fails the scan.  ``schema=None`` infers it (one
    Spark job per read) and is kept only where the rows' shape is the
    caller's, not the library's."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


#: path -> whether its ``ts`` is INT64 TIMESTAMP(NANOS); the testdata
#: files never change, so each path's footer is read once
_NANOS_TS: dict[str, bool] = {}


def _nanos_ts(spark: SparkSession, path: str) -> bool:
    """True iff ``ts`` in the parquet file at ``path`` (or in the first
    data file under a parquet dir) is an INT64 TIMESTAMP(NANOS).  Read
    from the file footer on the driver through the session's Hadoop
    filesystem, so no Spark job runs.  A missing path is False, so the
    read itself reports it."""
    if path in _NANOS_TS:
        return _NANOS_TS[path]
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if not fs.exists(p):
        return False
    if fs.getFileStatus(p).isDirectory():
        p = next(
            st.getPath()
            for st in fs.listStatus(p)
            if st.isFile() and st.getPath().getName()[0] not in "._"
        )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    )
    try:
        ts = reader.getFileMetaData().getSchema().getType("ts")
    finally:
        reader.close()
    _NANOS_TS[path] = "NANOS" in str(ts.getLogicalTypeAnnotation())
    return _NANOS_TS[path]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, ``{sf_dir}/{name}.parquet``, with its
    declared schema (``schemas.TABLE_SCHEMAS``): no Spark job runs
    until the caller's query does.

    Timestamps are naive TIMESTAMP(MICROS) in the current testdata and
    read as TimestampType (wall clock == UTC instant under the UTC
    session TZ), so timestamp predicates stay pushable.  A legacy
    ``events`` generation stores INT64 TIMESTAMP(NANOS), which Spark
    reads only as a long under ``nanosAsLong``.  That generation is
    detected from the file footer, once per path, and only its reads
    set ``nanosAsLong`` on the session and convert with exact integer
    division (``ts DIV 1000`` -> ``timestamp_micros``), keeping the
    whole path JVM-side.
    """
    path = f"{sf_dir}/{name}.parquet"
    schema = TABLE_SCHEMAS[name]
    if name == "events" and _nanos_ts(spark, path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        nanos = T.StructType(
            [
                T.StructField("ts", T.LongType()) if f.name == "ts" else f
                for f in schema.fields
            ]
        )
        return read_parquet(spark, path, nanos).withColumn(
            "ts", F.expr("timestamp_micros(ts DIV 1000)")
        )
    return read_parquet(spark, path, schema)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Read several tables into a dict keyed by table name."""
    return {name: read_table(spark, sf_dir, name) for name in names}
