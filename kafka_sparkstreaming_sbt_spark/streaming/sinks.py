"""Streaming sinks (SURVEY.md §2.2 K1-K5).

- K1 foreachBatch: bridges streaming->batch; the reference's closure
  re-rolls the micro-batch to daily grain and JDBC-appends
  (CustomerSpendingAnalysis.scala:150-178), swallowing write errors
  (CSA:172-175).  ``start_foreach_batch_sink`` reproduces the shape
  with two deliberate improvements flagged in SURVEY.md §2.9: an
  explicit ``checkpointLocation`` (the reference configures none —
  restart replays from startingOffsets) and an optional strict mode
  that re-raises write errors instead of logging them.
- K3 console / K4 memory sinks for debug and tests
  (CustomerSpendingAnalysisNew1.scala:115-118,
  CustomerSpendingIntegrationTest.scala:133-146).
- K5 output modes: ``update`` for aggregated streams, ``append`` for
  raw passthrough.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

log = logging.getLogger(__name__)


def start_foreach_batch_sink(
    df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    output_mode: str = "update",
    checkpoint_location: str | None = None,
    query_name: str | None = None,
    swallow_errors: bool = True,
) -> StreamingQuery:
    """K1 (CSA:150-178).  ``swallow_errors=True`` is parity mode — the
    reference logs-and-continues on sink failure (at-least-once with
    silent drop under its PK-append contract, §2.9)."""

    def _wrapped(batch_df: DataFrame, batch_id: int) -> None:
        try:
            batch_fn(batch_df, batch_id)
        except Exception:  # noqa: BLE001
            if not swallow_errors:
                raise
            log.exception("foreachBatch sink failed for batch %s", batch_id)

    writer = df.writeStream.foreachBatch(_wrapped).outputMode(output_mode)
    if checkpoint_location:
        _sweep_state_temp_files(checkpoint_location)
        writer = writer.option("checkpointLocation", checkpoint_location)
    if query_name:
        writer = writer.queryName(query_name)
    return writer.start()


def _sweep_state_temp_files(checkpoint_location: str) -> None:
    """Delete the hidden temp files a re-run batch leaves under
    ``<checkpoint>/state``.  When a batch re-runs after a crash, its
    state files already exist; Spark's FileSystem checkpoint manager
    keeps the first copy and leaves the re-run's
    ``.<file>.<uuid>.tmp`` (and that file's ``.crc``) behind.  Spark
    never reads them.  Called only before a query starts, when nothing
    writes to the directory.  Local paths only: ``session.get_spark``
    picks that manager only on a local master."""
    root = os.path.join(checkpoint_location.removeprefix("file:"), "state")
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith(".") and f.endswith((".tmp", ".tmp.crc")):
                os.remove(os.path.join(d, f))


def start_console_sink(
    df: DataFrame, output_mode: str = "append", truncate: bool = False
) -> StreamingQuery:
    """K3 debug tap (CSAN1:115-118)."""
    return (
        df.writeStream.format("console")
        .outputMode(output_mode)
        .option("truncate", str(truncate).lower())
        .start()
    )


def start_memory_sink(
    df: DataFrame, query_name: str, output_mode: str = "append"
) -> StreamingQuery:
    """K4 (IT:133-146): in-memory table queryable via
    ``spark.sql(f"SELECT ... FROM {query_name}")``."""
    return (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .start()
    )
