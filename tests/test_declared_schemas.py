"""Declared parquet read schemas (``sources.batch.read_parquet``): every
testdata table and every fixed-shape lake artifact is read with a
schema the library declares, so no read runs a schema-inference job.
A declared name or type that differs from the files reads as silent
nulls or fails the scan, so each declaration is pinned here to the
schema Spark infers from what was actually written."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kafka_sparkstreaming_sbt_spark.schemas import TABLE_SCHEMAS
from kafka_sparkstreaming_sbt_spark.sources.batch import (
    TABLES,
    read_parquet,
    read_table,
)

NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"


def _inferred(spark, path):
    return spark.read.parquet(path).schema


def test_declared_table_schemas_equal_inferred(spark, sf_small, tmp_path):
    """Every table, at both testdata scales and as the benchmark's own
    table generator writes it."""
    from perfbench.tables import make_tables

    root = os.path.dirname(sf_small)
    generated = str(tmp_path)
    tables = make_tables(7, 0.001)
    assert set(TABLES) == set(tables)
    for name, table in tables.items():
        pq.write_table(table, f"{generated}/{name}.parquet")
    for sf_dir in (f"{root}/sf0.001", f"{root}/sf0.01", generated):
        for name in TABLES:
            path = f"{sf_dir}/{name}.parquet"
            assert TABLE_SCHEMAS[name] == _inferred(spark, path), path
            assert read_table(spark, sf_dir, name).schema == _inferred(
                spark, path
            ), path


def test_read_table_runs_no_spark_job(spark, sf_small):
    from perfbench.tracing import JobGroups

    jobs, gid = JobGroups(spark), f"read-{uuid.uuid4()}"
    with jobs.group(gid):
        frames = [read_table(spark, sf_small, name) for name in TABLES]
    assert len(jobs.job_ids(gid)) == 0
    assert [f.columns for f in frames] == [
        TABLE_SCHEMAS[n].names for n in TABLES
    ]


def test_nanos_events_generation_reads_the_same_rows(
    spark, sf_small, tmp_path
):
    """A legacy ``events`` file with INT64 TIMESTAMP(NANOS) reads as
    the same rows as the microsecond file, and only that read sets
    ``nanosAsLong`` on the session."""
    old = spark.conf.get(NANOS_KEY)
    try:
        spark.conf.set(NANOS_KEY, "false")
        micros = read_table(spark, sf_small, "events")
        assert spark.conf.get(NANOS_KEY) == "false"
        table = pq.read_table(f"{sf_small}/events.parquet")
        i = table.schema.get_field_index("ts")
        table = table.set_column(
            i, "ts", table.column("ts").cast(pa.timestamp("ns"))
        )
        pq.write_table(
            table, str(tmp_path / "events.parquet"),
            coerce_timestamps=None, version="2.6",
        )
        nanos = read_table(spark, str(tmp_path), "events")
        assert spark.conf.get(NANOS_KEY) == "true"
        assert nanos.schema == micros.schema
        assert nanos.exceptAll(micros).count() == 0
        assert micros.exceptAll(nanos).count() == 0
    finally:
        spark.conf.set(NANOS_KEY, old)


def test_declared_lake_artifact_schemas_equal_written(spark, tmp_path):
    """One small multimodal screen with every artifact on: each
    artifact's declared schema equals the schema of what its writer
    wrote."""
    from kafka_sparkstreaming_sbt_spark.operators.classify import nb_train
    from kafka_sparkstreaming_sbt_spark.streaming import ingest

    def text(i):
        return " ".join(f"tok{i}x{j}" for j in range(10))

    def vec(i):
        v = [0.0] * 8
        v[i % 8] = 1.0
        return v

    d = {k: str(tmp_path / k) for k in (
        "acc", "cells", "drift", "quality",
    )}
    docs = spark.createDataFrame(
        [(i, text(i)) for i in range(4)], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(4)],
        "doc_id long, embedding array<double>",
    )
    model = nb_train(
        docs.withColumn("label", (F.col("doc_id") % 2).cast("int")),
        "label", n_buckets=64,
    )
    ingest.materialize_drift_baseline(docs, d["drift"])
    ingest.materialize_quality_model(docs, d["quality"], model, 64)
    ingest.materialize_semantic_quantizer(
        emb, d["cells"], n_cells=2, id_col="doc_id"
    )
    batch = spark.createDataFrame(
        [(10, text(0), vec(5)), (11, text(11), vec(6))],
        "doc_id long, text string, embedding array<double>",
    )
    ingest.screen_multimodal_micro_batch(
        batch, 0, docs, emb, d["acc"], d["cells"], method="numpy",
        exact=True, span_window_tokens=4,
    )
    keys = ingest._keys_schema(docs.schema["doc_id"].dataType)
    cells = ingest._cells_schema("doc_id", emb.schema["doc_id"].dataType)
    declared = {
        f"{d['acc']}/_keys/base": keys,
        f"{d['acc']}/_keys/incr/batch_id=0": keys,
        f"{d['drift']}/baseline": ingest._PROFILE_SCHEMA,
        f"{d['quality']}/current/model": ingest._QUALITY_MODEL_SCHEMA,
        f"{d['quality']}/current/baseline": ingest._QUALITY_BASELINE_SCHEMA,
        f"{d['cells']}/quantizer/centroids": ingest._CENTROIDS_SCHEMA,
        f"{d['cells']}/quantizer/base": cells,
        f"{d['cells']}/quantizer/quality": ingest._ASSIGN_QUALITY_SCHEMA,
        f"{d['cells']}/incr/batch_id=0": cells,
    }
    for path, schema in declared.items():
        assert schema == _inferred(spark, path), path
        assert read_parquet(spark, path, schema).count() > 0, path


def test_declared_index_schemas_equal_written(spark, tmp_path):
    """The BM25 index artifacts, as generation 0 and an append write
    them."""
    from kafka_sparkstreaming_sbt_spark.operators import retrieval

    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    retrieval.build_inverted_index(docs, idx, n_buckets=4)
    retrieval.append_to_index(
        spark.createDataFrame([(3, "c d e")], "doc_id long, text string"),
        idx,
    )
    postings = retrieval._postings_schema(
        "doc_id", docs.schema["doc_id"].dataType
    )
    assert postings == _inferred(spark, f"{idx}/postings")
    for g in (0, 1):
        for name, schema in (
            ("dfreq", retrieval._DFREQ_SCHEMA),
            ("stats", retrieval._STATS_SCHEMA),
        ):
            path = f"{idx}/meta/upto={g}/{name}"
            assert schema == _inferred(spark, path), path
