"""Daily-ingest dedup screen — the INCREMENTAL composition of the
curation chain (`curate_corpus.py` is the full-corpus build; this is
what runs every day after it): screen a NEW document batch against the
EXISTING curated corpus on both dedup axes without ever re-pairing the
corpus with itself:

    textual:  incremental_near_dup   (MinHash bucket join, batch x
              corpus signatures, candidate-only corpus re-shingle)
    semantic: incremental_semantic_dedup (batch assigned to the
              EXISTING k-means centroids, paired only vs in-cell
              corpus members seniors-first + earlier in-cell batch
              rows, 2-probe boundary recovery)

With ``--span-window N`` an ExactSubstr excision stage runs FIRST:
corpus-duplicated N-token windows are cut out of the batch text (the
streaming pipeline's span stage, one-shot form), docs emptied
by excision are rejected, and the dedup screens see the cleaned text.

A batch doc is ACCEPTED only if neither screen finds a duplicate.
Both screens cost O(|batch| x local-neighborhood), never corpus^2 —
the shape that stays daily-runnable when the corpus is 100 TB and the
batch is a few GB.  In production the corpus-side signature table and
cell assignment are MATERIALIZED artifacts of the last full build
(exactly `semantic_dedup`'s output `cell_id` column); they are
recomputed here from the raw tables for self-containment, the same
note as the underlying operators.

Deterministic end to end: seeded k-means, hash-based MinHash, id-order
tie-breaks — re-running on the same inputs yields byte-identical
verdicts.

    python examples/incremental_ingest.py \
        --input /root/testdata/sf0.01 --split-id 400 \
        [--jaccard-threshold 0.5] [--semantic-threshold 0.9]

(`--split-id K` treats doc_id/vec_id < K as the existing corpus and
the rest as today's batch — a stand-in for a real ingest feed.)
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, functions as F

from kafka_sparkstreaming_sbt_spark.operators.dedup_fuzzy import (
    incremental_near_dup,
)
from kafka_sparkstreaming_sbt_spark.operators.profile import (
    profile_columns,
    profile_drift,
)
from kafka_sparkstreaming_sbt_spark.operators.similarity import (
    incremental_semantic_dedup,
    kmeans_centroids,
)
from kafka_sparkstreaming_sbt_spark.session import get_spark
from kafka_sparkstreaming_sbt_spark.sources.batch import read_table


def batch_drift_report(
    corpus_docs: DataFrame, batch_docs: DataFrame
) -> dict:
    """The promote/hold check that runs BEFORE the (expensive) dedup
    screens: profile today's batch against the corpus profile and
    count the alarms that indicate a broken feed rather than
    legitimate new data — schema drift (columns appearing or
    vanishing), null-rate jumps, and distinct-count collapse.  Range
    shifts are reported but not counted as alarms: a batch of NEW
    documents legitimately extends id/date ranges every day.

    Cost: two single-scan profiles + a |columns|-row join — noise
    next to the screens it gates."""
    # Schema drift must come from the raw column SETS, not the
    # profiled intersection — profiling only shared columns would
    # make the added/removed alarm unfireable (a feed that silently
    # drops a column would pass the gate).
    corpus_cols = set(corpus_docs.columns)
    batch_cols = set(batch_docs.columns)
    alarms = [
        (c, "removed") for c in sorted(corpus_cols - batch_cols)
    ] + [(c, "added") for c in sorted(batch_cols - corpus_cols)]
    cols = [c for c in batch_docs.columns if c in corpus_cols]
    drift = profile_drift(
        profile_columns(corpus_docs, cols),
        profile_columns(batch_docs, cols),
    ).collect()  # |columns| rows
    for r in drift:
        if r.status != "present":
            alarms.append((r.column, r.status))
        if r.null_jump_flag == 1:
            alarms.append((r.column, "null_jump"))
        if r.distinct_collapse_flag == 1:
            alarms.append((r.column, "distinct_collapse"))
    return {
        "drift_alarms": len(alarms),
        "drift_detail": [f"{c}:{kind}" for c, kind in alarms],
        "range_shifts": sum(
            1 for r in drift if r.range_changed == 1
        ),
    }


def screen_batch(
    spark,
    corpus_docs: DataFrame,
    batch_docs: DataFrame,
    corpus_emb: DataFrame | None = None,
    batch_emb: DataFrame | None = None,
    jaccard_threshold: float = 0.5,
    semantic_threshold: float | None = None,
    span_window: int | None = None,
) -> tuple[DataFrame, dict]:
    """Run both incremental screens; returns (verdicts, report).

    ``verdicts`` has one row per batch doc:
    ``(doc_id, textual_dup, semantic_dup, accepted)`` — auditable
    curation metadata, not just the surviving subset.  Setting
    ``semantic_threshold`` REQUIRES both embedding tables
    (``vec_id`` == ``doc_id``) — a missing table raises immediately
    rather than silently skipping a screen the caller asked for.

    ``span_window``: optional ExactSubstr stage BEFORE the screens —
    every ``span_window``-token window already present in the corpus
    (or shared within the batch) is EXCISED from the batch text, the
    same stage the streaming pipeline runs with ``span_window_tokens``;
    docs emptied by excision are flagged ``span_emptied`` and rejected.
    The dedup screens then run on the CLEANED text, so boilerplate
    spans can no longer glue unrelated docs into near-dup pairs.  In
    production the corpus window-hash table is a materialized
    artifact (``window_hash_table`` — the signature-table note);
    recomputed here for self-containment."""
    if semantic_threshold is not None and (
        corpus_emb is None or batch_emb is None
    ):
        raise ValueError(
            "semantic_threshold is set but corpus_emb/batch_emb are "
            "missing — pass both embedding tables or drop the threshold"
        )
    batch_ids = batch_docs.select("doc_id")
    span_report: dict = {}
    span_emptied = None
    if span_window is not None:
        from kafka_sparkstreaming_sbt_spark.operators.chunking import (
            remove_duplicate_spans_incremental,
        )

        cleaned = remove_duplicate_spans_incremental(
            batch_docs,
            corpus_docs=corpus_docs,
            window_tokens=span_window,
        ).localCheckpoint(eager=True)
        agg = cleaned.agg(
            F.sum((F.col("n_spans") > 0).cast("int")).alias("d"),
            F.sum("tokens_removed").alias("t"),
            F.sum(
                (F.length("clean_text") == 0).cast("int")
            ).alias("e"),
        ).first()
        span_report = {
            "span_excised_docs": int(agg.d or 0),
            "span_tokens_removed": int(agg.t or 0),
            "span_emptied_docs": int(agg.e or 0),
        }
        span_emptied = cleaned.filter(
            F.length("clean_text") == 0
        ).select("doc_id").withColumn("_sempty", F.lit(True))
        batch_docs = (
            batch_docs.drop("text")
            .join(
                cleaned.filter(F.length("clean_text") > 0).select(
                    "doc_id", F.col("clean_text").alias("text")
                ),
                "doc_id",
            )
        )

    textual_dups = (
        incremental_near_dup(
            batch_docs,
            corpus_docs,
            threshold=jaccard_threshold,
        )
        .select(F.col("new_doc_id").alias("doc_id"))
        .distinct()
        .withColumn("_tdup", F.lit(True))
    )
    verdicts = batch_ids.join(textual_dups, "doc_id", "left").select(
        "doc_id",
        F.coalesce("_tdup", F.lit(False)).alias("textual_dup"),
    )

    if semantic_threshold is not None:
        # centroids from the EXISTING corpus only — the batch must not
        # move the quantizer (that is the next full rebuild's job)
        cents = kmeans_centroids(corpus_emb, n_iter=2)
        sem = incremental_semantic_dedup(
            batch_emb,
            corpus_emb,
            cents,
            threshold=semantic_threshold,
            method="numpy",
            n_probe_cells=2,
        ).select(
            F.col("vec_id").alias("doc_id"),
            (~F.col("kept")).alias("semantic_dup"),
        )
        verdicts = verdicts.join(sem, "doc_id", "left").select(
            "doc_id",
            "textual_dup",
            F.coalesce("semantic_dup", F.lit(False)).alias(
                "semantic_dup"
            ),
        )
    else:
        verdicts = verdicts.withColumn("semantic_dup", F.lit(False))

    if span_emptied is not None:
        verdicts = verdicts.join(span_emptied, "doc_id", "left").select(
            "doc_id", "textual_dup", "semantic_dup",
            F.coalesce("_sempty", F.lit(False)).alias("span_emptied"),
        )
    else:
        verdicts = verdicts.withColumn("span_emptied", F.lit(False))
    verdicts = verdicts.withColumn(
        "accepted",
        ~F.col("textual_dup")
        & ~F.col("semantic_dup")
        & ~F.col("span_emptied"),
    )
    agg = verdicts.agg(
        F.count(F.lit(1)).alias("batch"),
        F.sum(F.col("textual_dup").cast("int")).alias("t"),
        F.sum(F.col("semantic_dup").cast("int")).alias("s"),
        F.sum(F.col("accepted").cast("int")).alias("a"),
    ).first()
    report = {
        "batch_docs": agg.batch,
        "textual_dups": int(agg.t),
        "semantic_dups": int(agg.s),
        "accepted": int(agg.a),
        **span_report,
    }
    return verdicts, report


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="dir with *.parquet")
    p.add_argument("--split-id", type=int, default=400)
    p.add_argument("--jaccard-threshold", type=float, default=0.5)
    p.add_argument("--semantic-threshold", type=float, default=None)
    p.add_argument(
        "--span-window", type=int, default=None,
        help="ExactSubstr excision window (tokens) before the screens",
    )
    p.add_argument(
        "--drift-gate",
        action="store_true",
        help="hold the batch (exit 3) if profile drift alarms fire",
    )
    args = p.parse_args()
    spark = get_spark(app_name="incremental-ingest")
    docs = read_table(spark, args.input, "documents")
    emb = read_table(spark, args.input, "embeddings")
    k = args.split_id
    corpus_docs = docs.filter(F.col("doc_id") < k)
    batch_docs = docs.filter(F.col("doc_id") >= k)
    drift = batch_drift_report(corpus_docs, batch_docs)
    if args.drift_gate and drift["drift_alarms"] > 0:
        print(json.dumps({"held": True, **drift}))
        spark.stop()
        sys.exit(3)
    _, report = screen_batch(
        spark,
        corpus_docs,
        batch_docs,
        emb.filter(F.col("vec_id") < k),
        emb.filter(F.col("vec_id") >= k),
        args.jaccard_threshold,
        args.semantic_threshold,
        span_window=args.span_window,
    )
    print(json.dumps({**report, **drift}))
    spark.stop()


if __name__ == "__main__":
    main()
