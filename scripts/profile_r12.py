"""r12 optimization-round profiling (guide §1): per-query Spark JOB
counts via a job group + statusTracker (the noise-free structural
metric r11 used for the k-means family), targeted stage probes for the
round's candidate operators, and interleaved A/B harnesses.

Usage: python scripts/profile_r12.py [probe ...]
Probes: jobs, spans, bm25, ngram, semantic
"""

from __future__ import annotations

import os
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from kafka_sparkstreaming_sbt_spark.session import get_spark  # noqa: E402
from kafka_sparkstreaming_sbt_spark.sources.batch import read_table  # noqa: E402
from perfbench.tracing import JobGroups  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name: str, build) -> float:
    spark.sparkContext.setJobDescription(f"profile:{name}")
    best = float("inf")
    for i in range(RUNS + 1):
        t0 = time.perf_counter()
        _noop(build())
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        if i:
            best = min(best, dt)
    print(f"{name:52s} {best:8.3f}s", flush=True)
    spark.sparkContext.setJobDescription(None)
    return best


def job_count(spark, name: str, build) -> int:
    """Number of Spark jobs one cold execution of `build()` runs,
    read once the group's jobs have settled in the status store."""
    gid = f"jc-{uuid.uuid4()}"
    groups = JobGroups(spark)
    with groups.group(gid):
        t0 = time.perf_counter()
        _noop(build())
        dt = time.perf_counter() - t0
    jobs = groups.job_ids(gid)
    spark.catalog.clearCache()
    print(f"{name:40s} jobs={len(jobs):3d}  wall={dt:7.3f}s", flush=True)
    return len(jobs)


def probe_jobs(spark) -> None:
    """Job counts for the kmeans/PQ family + candidates."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for name in (
        "ivf_pq_topk",
        "ivf_kmeans_topk",
        "pq_topk_rerank",
        "pq_codes",
        "quantized_topk",
        "semantic_dedup",
        "incremental_semantic_dedup",
        "bm25_multi_query",
        "hybrid_retrieval_rrf",
        "duplicate_span_docs",
        "duplicated_span_report",
        "incremental_span_dedup",
        "ngram_jaccard_pairs",
    ):
        job_count(spark, name, lambda n=name: qs[n](spark, SF_DIR))


def probe_spans(spark) -> None:
    from kafka_sparkstreaming_sbt_spark.operators.chunking import (
        _tokenized,
        _window_marks,
    )

    docs = read_table(spark, SF_DIR, "documents")
    base = _tokenized(docs, "text", "doc_id")
    timed(spark, "span.0_tokenize", lambda: base)
    timed(
        spark,
        "span.1_window_marks",
        lambda: _window_marks(base, 16, "doc_id"),
    )
    timed(
        spark,
        "span.2_dup_agg",
        lambda: _window_marks(base, 16, "doc_id")
        .select("doc_id", "_h")
        .distinct()
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= 2)
        .select("_h"),
    )


def probe_bm25(spark) -> None:
    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    qarr = F.array(*[F.lit(t) for t in ["customer", "merge", "scan", "spark"]])
    base = docs.select(
        F.col("doc_id"),
        F.size(toks).alias("dl"),
        F.filter(toks, lambda t: F.array_contains(qarr, t)).alias("hits"),
    )
    timed(spark, "bm25.0_base_scan", lambda: base)
    timed(
        spark,
        "bm25.1_stats_only",
        lambda: base.select(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
        ),
    )


def probe_ngram(spark) -> None:
    from kafka_sparkstreaming_sbt_spark.operators.dedup_fuzzy import (
        with_shingles,
    )
    from kafka_sparkstreaming_sbt_spark.plans import parallelize_for_compute

    docs0 = read_table(spark, SF_DIR, "documents")
    docs = with_shingles(parallelize_for_compute(docs0), "text", 3).select(
        "doc_id", "shingles"
    )
    timed(spark, "ngram.0_shingle_arrays", lambda: docs)
    inv = docs.select("doc_id", F.explode("shingles").alias("sh"))
    timed(spark, "ngram.1_inverted", lambda: inv)
    timed(
        spark,
        "ngram.2_df_counts",
        lambda: inv.groupBy("sh").agg(F.count(F.lit(1)).alias("df")),
    )

    def ranked():
        from pyspark.sql import Window

        sh_df = inv.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        by_doc = Window.partitionBy("doc_id")
        rank_w = by_doc.orderBy("df", "sh")
        return inv.join(sh_df, "sh").select(
            "doc_id",
            "sh",
            F.row_number().over(rank_w).alias("rn"),
            F.count(F.lit(1)).over(by_doc).alias("n_sh"),
        )

    timed(spark, "ngram.3_ranked_window", ranked)


def probe_semantic(spark) -> None:
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    timed(
        spark,
        "semantic.incremental_semantic_dedup",
        lambda: qs["incremental_semantic_dedup"](spark, SF_DIR),
    )
    timed(
        spark,
        "semantic.semantic_dedup",
        lambda: qs["semantic_dedup"](spark, SF_DIR),
    )


PROBES = {
    "jobs": probe_jobs,
    "spans": probe_spans,
    "bm25": probe_bm25,
    "ngram": probe_ngram,
    "semantic": probe_semantic,
}


def main() -> None:
    spark = get_spark(
        app_name="profile_r12",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    names = sys.argv[1:] or list(PROBES)
    for n in names:
        PROBES[n](spark)
    spark.stop()


if __name__ == "__main__":
    main()
