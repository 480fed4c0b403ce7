"""Unified multimodal ingest — the streaming composition that runs
ALL the screens over documents ingested WITH their embeddings
(`incremental_ingest.py` is the batch/maintenance view; this drives
`run_multimodal_ingest_pipeline`, the one-foreachBatch production
shape):

    drift HOLD -> quality (optional) -> exact (content hash) ->
    near-dup (MinHash) -> semantic (SemDeDup)

in reject-cheapest-first order, with one accepted partition of FULL
(doc_id, text, embedding) rows per micro-batch and every maintenance
artifact (signatures, content hashes, cell assignments) keyed on the
same batch-id sequence.

The demo replays the sf testdata through a file-source stream: docs
with doc_id < --split-id (joined to their embeddings by id) are the
existing corpus; the rest arrive as --waves micro-batches, with a
planted slice of exact text copies and vector clones so every screen
does visible rejection work.  Deterministic end to end.

    python examples/multimodal_ingest.py \
        --input /root/testdata/sf0.001 --split-id 400 \
        [--waves 2] [--semantic-threshold 0.9] [--n-cells 8]

Prints one JSON line per wave (`on_batch` counts) and a final summary
of the accepted lake.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from kafka_sparkstreaming_sbt_spark.session import get_spark
from kafka_sparkstreaming_sbt_spark.sources.batch import read_table
from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
    materialize_semantic_quantizer,
    run_multimodal_ingest_pipeline,
)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="dir with *.parquet")
    p.add_argument("--split-id", type=int, default=400)
    p.add_argument("--waves", type=int, default=2)
    p.add_argument("--jaccard-threshold", type=float, default=0.5)
    p.add_argument("--semantic-threshold", type=float, default=0.9)
    p.add_argument("--n-cells", type=int, default=8)
    p.add_argument(
        "--out", default=None,
        help="keep the accepted lake here (default: temp dir, removed)",
    )
    args = p.parse_args()

    spark = get_spark(app_name="multimodal-ingest-example")
    docs = read_table(spark, args.input, "documents").select(
        "doc_id", "text"
    )
    emb = read_table(spark, args.input, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    full = docs.join(emb, "doc_id")
    corpus = full.filter(F.col("doc_id") < args.split_id).localCheckpoint(
        eager=True
    )
    incoming = full.filter(F.col("doc_id") >= args.split_id)
    n_in = incoming.count()

    tmp = {
        k: tempfile.mkdtemp(prefix=f"mm_{k}_")
        for k in ("src", "cells", "ckpt")
    }
    acc = args.out or tempfile.mkdtemp(prefix="mm_acc_")
    corpus_docs = corpus.select("doc_id", "text")
    corpus_emb = corpus.select("doc_id", "embedding")
    try:
        # production shape: recurring-cost artifacts built once,
        # before the stream starts (the pipeline start builds the
        # text keys)
        materialize_semantic_quantizer(
            corpus_emb, tmp["cells"], n_cells=args.n_cells,
            id_col="doc_id",
        )
        stream = spark.readStream.schema(
            "doc_id long, text string, embedding array<double>"
        ).json(tmp["src"])
        waves: list[dict] = []
        q = run_multimodal_ingest_pipeline(
            stream, corpus_docs, corpus_emb, acc, tmp["cells"],
            tmp["ckpt"],
            threshold=args.jaccard_threshold,
            semantic_threshold=args.semantic_threshold,
            n_cells=args.n_cells, method="numpy", exact=True,
            on_batch=lambda bid, n, a: waves.append(
                {"batch_id": bid, "n_in": n, "n_accepted": a}
            ),
        )
        try:
            # split incoming into waves; plant an exact text copy and
            # a vector clone of a corpus doc into each wave so every
            # screen rejects something visible
            planted = corpus.limit(1).collect()[0]
            per_wave = max(1, n_in // args.waves)
            rows = incoming.collect()
            for w in range(args.waves):
                chunk = rows[w * per_wave: (w + 1) * per_wave]
                if not chunk:
                    break
                extra = [
                    (
                        10_000_000 + 2 * w,
                        planted.text,  # exact screen kills this
                        list(chunk[0].embedding),
                    ),
                    (
                        10_000_000 + 2 * w + 1,
                        f"vector clone probe wave {w}",
                        list(planted.embedding),  # semantic kill
                    ),
                ]
                # ONE file per wave: a multi-file wave can land in
                # one OR two triggers depending on listing timing,
                # which makes the per-wave counts (and the printed
                # line count) nondeterministic
                spark.createDataFrame(
                    [(r.doc_id, r.text, list(r.embedding)) for r in chunk]
                    + extra,
                    "doc_id long, text string, embedding array<double>",
                ).coalesce(1).write.mode("append").json(tmp["src"])
                q.processAllAvailable()
        finally:
            q.stop()
        for w in waves:
            if w["n_in"] > 0:
                print(json.dumps(w))
        out = spark.read.parquet(acc)
        print(
            json.dumps(
                {
                    "accepted_total": out.count(),
                    "partitions": out.select("batch_id")
                    .distinct()
                    .count(),
                    "columns": sorted(out.columns),
                }
            )
        )
    finally:
        for d in tmp.values():
            shutil.rmtree(d, ignore_errors=True)
        if args.out is None:
            shutil.rmtree(acc, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
