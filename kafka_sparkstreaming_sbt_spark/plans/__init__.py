"""Plan helpers: compute-partition sizing, and the formatted physical
plan ``scripts/measure.py plans`` dumps for inspection (pushdown
reached the scan, aggregation is partial->final, joins broadcast where
intended)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def parallelize_for_compute(df: DataFrame, factor: int = 1) -> DataFrame:
    """Repartition a *compute-bound* DataFrame to the cluster's core
    count.

    Scan partitioning follows bytes (``spark.sql.files.
    maxPartitionBytes``), which is right for IO-bound work but starves
    CPU-heavy per-row stages (hashing, shingling, vector math) when
    the input is byte-small: a 5 MB document table arrives as ONE
    partition and runs single-threaded no matter how many cores exist.
    The repartition shuffles only the small input bytes and buys full
    parallelism for everything downstream — the classic
    bytes-vs-compute partition sizing distinction that still holds at
    100 TB (there the *files* provide splits, but skewed doc sizes
    still warrant a rebalance before heavy per-row compute).
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism * factor)


def physical_plan(df: DataFrame) -> str:
    """Formatted physical plan as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )
