"""Seams that need a live session: the file-to-trigger mapping behind
spend_stream's latency, and tracing adding no Spark jobs."""

import os
import time

from pyspark.sql import functions as F

from perfbench.common import settled_progress
from perfbench.spend_stream import ROWS_PER_FILE, FileFeed, Producer, file_triggers
from perfbench.tracing import JobGroups, Tracer


def test_file_to_trigger_mapping_matches_num_input_rows(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    feed = FileFeed(str(src), Producer(1))
    seen: dict[str, int] = {}

    def record(batch, batch_id):
        for row in batch.select(F.input_file_name().alias("f")).distinct().collect():
            seen[os.path.basename(row["f"])] = batch_id

    query = (
        spark.readStream.text(str(src))
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for group in (2, 1, 3, 1):
            for _ in range(group):
                feed.write([time.time()] * ROWS_PER_FILE)
            query.processAllAvailable()
        progress = settled_progress(query, feed.rows)
    finally:
        query.stop()
    mapped = [p["batchId"] for p in file_triggers(feed.files, progress)]
    actual = [seen[f"part-{i:06d}.json"] for i in range(len(feed.files))]
    assert mapped == actual


def test_tracing_adds_no_spark_jobs(spark, tmp_path):
    import __spark_entry__ as entry
    from pyspark.sql.classic.dataframe import DataFrame

    from perfbench.query_mix import CHECKPOINT_METHODS, QUERIES, Client
    from perfbench.tables import write_tables

    sf = str(tmp_path / "sf")
    write_tables(1, 0.001, sf)
    jobs = JobGroups(spark)
    client = Client(spark, entry.queries(), sf, Tracer(False), jobs)
    untraced = {n: client.execute(n, f"u:{n}") for n in QUERIES}
    tracer = Tracer(True)
    for attr in CHECKPOINT_METHODS:
        tracer.wrap(DataFrame, attr, f"operators.{attr}")
    client.tracer = tracer
    try:
        traced = {n: client.execute(n, f"t:{n}") for n in QUERIES}
    finally:
        tracer.unwrap_all()
    assert tracer.closed_spans()
    for n in QUERIES:
        assert jobs.counts(untraced[n]["gid"]) == jobs.counts(traced[n]["gid"]), n
