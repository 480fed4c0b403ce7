"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()[name](spark, sf_dir)`` vs ``oracle_sql()[name]`` (DuckDB)
is the per-operator correctness gate at sf0.01 (CORRECTNESS_r{N}.json).

Every aggregate double is rounded to 2 dp ON BOTH SIDES so the
order-insensitive value hash is stable across Spark's and DuckDB's
float summation orders (inputs are 2-dp money-like values, so true
sums are exact multiples of 0.01 and rounding is unambiguous).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_sparkstreaming_sbt_spark.operators.asof import (  # noqa: E402
    purchases_with_last_click,
)
from kafka_sparkstreaming_sbt_spark.operators.dedup_fuzzy import (  # noqa: E402
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
)
from kafka_sparkstreaming_sbt_spark.operators.ranges import (  # noqa: E402
    purchase_prior_activity,
)
from kafka_sparkstreaming_sbt_spark.operators.sessions import (  # noqa: E402
    session_stats,
    user_sessions,
)
from kafka_sparkstreaming_sbt_spark.operators.simhash import (  # noqa: E402
    simhash_fingerprints,
    simhash_near_dup_pairs,
)
from kafka_sparkstreaming_sbt_spark.operators.analytics import (  # noqa: E402
    customers_with_orders,
    grouped_zscore_outliers,
    lapsed_customers,
    large_orders,
    monthly_order_stats,
    order_priority_rollup,
    order_status_pivot,
    parts_without_bulk_shipments,
    promo_revenue_share,
    revenue_by_nation,
    rolling_customer_spend,
    top_customers,
)
from kafka_sparkstreaming_sbt_spark.operators.graph import (  # noqa: E402
    near_dup_groups,
)
from kafka_sparkstreaming_sbt_spark.operators.multimodal import (  # noqa: E402
    decode_media,
    frame_sample,
    media_features,
    resize_media,
    synthetic_media,
)
from kafka_sparkstreaming_sbt_spark.operators.sampling import (  # noqa: E402
    deterministic_sample,
    stratified_sample,
    temperature_mixture_sample,
    weighted_sample,
    with_split,
)
from kafka_sparkstreaming_sbt_spark.operators.cdc import (  # noqa: E402
    latest_by_key,
    scd2_history,
)
from kafka_sparkstreaming_sbt_spark.operators.rollup import (  # noqa: E402
    daily_rollup_deterministic,
    daily_spending_direct,
)
from kafka_sparkstreaming_sbt_spark.operators.skew import (  # noqa: E402
    salted_sum,
)
from kafka_sparkstreaming_sbt_spark.operators.similarity import (  # noqa: E402
    _hyperplanes,
    cosine_topk,
    deterministic_centroids,
    diverse_sample,
    incremental_semantic_dedup,
    ivf_kmeans_topk,
    ivf_topk,
    lsh_bucket,
    lsh_near_pairs,
    semantic_dedup,
)
from kafka_sparkstreaming_sbt_spark.operators.timeseries import (  # noqa: E402
    gap_fill_locf,
)
from kafka_sparkstreaming_sbt_spark.operators.topk import (  # noqa: E402
    global_topk_with_rank,
)
from kafka_sparkstreaming_sbt_spark.operators.text import (  # noqa: E402
    LANG_MARKERS,
    PII_PATTERNS,
    STOPWORDS,
    TOKEN_REGEX,
    bigram_pmi,
    doc_fingerprints,
    exact_dedup_groups,
    lang_id,
    benchmark_overlap,
    quality_score,
    redact_pii,
    repetition_stats,
    tf_idf,
    token_stats,
    unigram_lm_scores,
)
from kafka_sparkstreaming_sbt_spark.operators.quantize import (  # noqa: E402
    _scale_value,
    ivf_pq_topk,
    pq_codebooks,
    pq_encode,
    pq_rerank,
    pq_topk,
    quantization_scale,
    quantize_embeddings,
    quantized_topk,
)
from kafka_sparkstreaming_sbt_spark.operators.windows import (  # noqa: E402
    windowed_spending,
)
from kafka_sparkstreaming_sbt_spark.schemas import EVENT_PROPS_SCHEMA  # noqa: E402
from kafka_sparkstreaming_sbt_spark.sources.batch import read_table  # noqa: E402
from kafka_sparkstreaming_sbt_spark.sources.kafka import (  # noqa: E402
    events_as_transactions,
)

# --------------------------------------------------------------------------
# DuckDB oracle building block: Spark's TimeWindowing expansion for a
# 10-minute window sliding every 5 minutes (FIXTURES.md §3), written with
# naive-timestamp arithmetic so it is timezone-setting independent.
# --------------------------------------------------------------------------
_WINDOW_EXPANSION = """
WITH slides AS (SELECT 0 AS k UNION ALL SELECT 1),
expanded AS (
  SELECT e.*,
         TIMESTAMP '1970-01-01 00:00:00'
           + CAST(floor(epoch(ts)/300)*300 - k*300 AS BIGINT)
             * INTERVAL 1 SECOND AS window_start
  FROM events e CROSS JOIN slides
)
"""


def _r2(col: str) -> F.Column:
    return F.round(F.sum(col), 2)


def _utc(spark: SparkSession) -> SparkSession:
    """Force the UTC session timezone exactly as the reference does
    imperatively inside its transform builder (CustomerSpendingAnalysis
    .scala:66) — date casts are session-tz-sensitive and the DuckDB
    oracle runs on naive UTC timestamps."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def _sql_words(words) -> str:
    """Python string tuple -> DuckDB list literal."""
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _sql_bucket_expr(n_bits: int, seed: int) -> str:
    """DuckDB expression mirroring operators.similarity.lsh_bucket:
    concatenated sign bits of the embedding against the same seeded
    hyperplanes (full-precision repr round-trips doubles exactly)."""
    planes = _hyperplanes(64, n_bits, seed)
    bits = []
    for plane in planes:
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        bits.append(
            "CASE WHEN list_dot_product(list_transform(embedding, "
            f"x -> CAST(x AS DOUBLE)), {lit}) >= 0 THEN '1' ELSE '0' END"
        )
    return "concat(" + ", ".join(bits) + ")"


#: Shared CTE chain producing MinHash near-dup candidate `pairs`
#: (mirrors operators.dedup_fuzzy.minhash_near_dup_pairs at
#: shingle_n=3, n_bands=8) — used by the pair oracle and, extended
#: with a recursive closure, the connected-components group oracle.
_MINHASH_SIG_CTES = """
        docs AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS sh
          FROM documents WHERE len(string_split(text, ' ')) >= 3
        ),
        bands AS (SELECT unnest(range(0, 8)) AS band),
        sigs AS (SELECT doc_id, band,
                        list_min(list_transform(sh, s ->
                          substr(md5(CASE WHEN band < 4 THEN s
                                          ELSE '1|' || s END),
                                 CAST((band % 4) * 8 + 1 AS INTEGER), 8))) AS sig
                 FROM docs, bands)
"""

_MINHASH_CTES = _MINHASH_SIG_CTES + """,
        cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                 FROM sigs x JOIN sigs y
                   ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
        pairs AS (SELECT doc_a, doc_b,
                         len(list_intersect(a.sh, b.sh))
                           / len(list_distinct(list_concat(a.sh, b.sh))) AS j
                  FROM cand
                  JOIN docs a ON a.doc_id = cand.doc_a
                  JOIN docs b ON b.doc_id = cand.doc_b)
"""


#: Shared CTE chain replaying operators.quantize: double-cast vectors
#: `e`, unit vectors `u`, the global int8 grid scale `s`, and int
#: codes `c` — every downstream comparison is integer arithmetic
#: (order-free sums), so no float-tie caveat applies past `c`.
_QUANT_CTES = """
        e AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        nrm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n
                FROM e),
        u AS (SELECT vec_id, list_transform(v, x -> x / n) AS unit
              FROM nrm WHERE n > 0),
        s AS (SELECT MAX(list_aggregate(
                       list_transform(unit, x -> abs(x)), 'max'))
                       AS q_scale FROM u),
        c AS (SELECT vec_id,
                     list_transform(unit, x -> CAST(GREATEST(-127,
                       LEAST(127, FLOOR(x * 127.0 / s.q_scale + 0.5)))
                       AS INT)) AS codes
              FROM u, s)
"""

#: Extension: deterministic 4x16 PQ codebooks (md5-rank picked rows,
#: seed 42), subspace slices `sl`, and the argmin encode `best` —
#: mirrors pq_codebooks(method="deterministic") + pq_encode.  Integer
#: squared L2 via the dot-product identity (exact: values ~1e6).
_PQ_CTES = _QUANT_CTES + """,
        rk AS (SELECT vec_id,
                      row_number() OVER (
                        ORDER BY md5(CAST(vec_id AS VARCHAR) || ':42'),
                                 vec_id) AS rk
               FROM c),
        subs AS (SELECT unnest(generate_series(0, 3)) AS m),
        bk AS (SELECT subs.m AS subspace, CAST(rk.rk - 1 AS INT) AS code,
                      c.codes[subs.m*16+1 : subs.m*16+16] AS c_codes
               FROM rk JOIN c USING (vec_id) CROSS JOIN subs
               WHERE rk.rk <= 16),
        sl AS (SELECT c.vec_id, subs.m AS subspace,
                      c.codes[subs.m*16+1 : subs.m*16+16] AS sub
               FROM c CROSS JOIN subs),
        dd AS (SELECT sl.vec_id, sl.subspace, bk.code,
                      CAST(list_dot_product(sl.sub, sl.sub)
                           - 2 * list_dot_product(sl.sub, bk.c_codes)
                           + list_dot_product(bk.c_codes, bk.c_codes)
                        AS BIGINT) AS d
               FROM sl JOIN bk ON bk.subspace = sl.subspace),
        best AS (SELECT vec_id, subspace, code, d,
                        row_number() OVER (
                          PARTITION BY vec_id, subspace
                          ORDER BY d, code) AS rn
                 FROM dd)
"""


#: CTE computing per-token nibble lists, mirroring operators.simhash's
#: md5-prefix bit family (first 16 hex chars -> 16 nibbles via ascii).
_SIMHASH_NIBS = """
WITH t AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '), tok ->
           list_transform(range(1, 17), i ->
             CASE WHEN ascii(substr(md5(tok), CAST(i AS INTEGER), 1)) <= 57
                  THEN ascii(substr(md5(tok), CAST(i AS INTEGER), 1)) - 48
                  ELSE ascii(substr(md5(tok), CAST(i AS INTEGER), 1)) - 87
             END)) AS nibs
  FROM documents
)
"""


def _sql_simhash_expr() -> str:
    """DuckDB expression for the 64-char SimHash fingerprint over a
    ``nibs`` column (mirrors operators.simhash.with_simhash bit for
    bit: weight_b = sum over tokens of +-1 on nibble bit, '1' iff
    weight > 0)."""
    bits = []
    for b in range(64):
        pos, shift = b // 4 + 1, b % 4
        bits.append(
            "CASE WHEN list_sum(list_transform(nibs, x -> "
            f"((x[{pos}] >> {shift}) & 1) * 2 - 1)) > 0 "
            "THEN '1' ELSE '0' END"
        )
    return "concat(" + ", ".join(bits) + ")"


# --------------------------------------------------------------------------
# Queries (SURVEY.md §2 inventory, expressed over the driver testdata)
# --------------------------------------------------------------------------


def q_windowed_spending_per_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A2 (CustomerSpendingAnalysisNew1.scala:41-51): 10m/5m sliding
    window, sum(value) per (window, user)."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    out = windowed_spending(
        events,
        per_transaction=False,
        ts_col="ts",
        customer_col="user_id",
        amount_col="value",
    )
    return out.withColumn("total_spent", F.round("total_spent", 2))


def q_windowed_spending_per_event(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A1 (CustomerSpendingAnalysis.scala:76-88): grouping additionally
    keyed by event id — every event shows up in BOTH covering windows
    with its full amount (duplication semantics pinned by the golden
    fixtures)."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    out = windowed_spending(
        events,
        per_transaction=True,
        ts_col="ts",
        customer_col="user_id",
        amount_col="value",
        txn_col="event_id",
    )
    return out.withColumn(
        "window_total_spent", F.round("window_total_spent", 2)
    )


def q_daily_spending_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 + A3 (CSA:104-109): windowed per-event agg -> one surviving
    window row per event (deterministic max-window variant of
    dropDuplicates) -> daily (customer, date) totals."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    txns = events_as_transactions(events)
    windowed = windowed_spending(txns, per_transaction=True)
    daily = daily_rollup_deterministic(windowed)
    return daily.withColumn("total_spent", F.round("total_spent", 2)).withColumn(
        # midnight timestamp instead of DATE so Spark's and DuckDB's
        # pandas representations agree under the driver's value hash
        "transaction_date",
        F.col("transaction_date").cast("timestamp"),
    )


def q_daily_spending_direct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (CSA:45-61 commented-out 'intended' semantics): dedup ->
    straight (customer, date) aggregation, no window detour."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    txns = events_as_transactions(events)
    daily = daily_spending_direct(txns)
    return daily.withColumn("total_spent", F.round("total_spent", 2)).withColumn(
        "transaction_date", F.col("transaction_date").cast("timestamp")
    )


def q_json_decode_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/F1 (CSA:39-41): fixed-schema from_json over the events.props
    JSON payload, flattened and aggregated."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    parsed = events.select(
        "event_type",
        F.from_json(F.col("props"), EVENT_PROPS_SCHEMA).alias("data"),
    ).select("event_type", "data.k")
    return parsed.groupBy("event_type").agg(
        F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n_events")
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary on lineitem — the batch headline
    query for bench: filter pushed to the parquet scan, partial->final
    hash agg, no joins."""
    _utc(spark)
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r2("l_quantity").alias("sum_qty"),
            _r2("l_extendedprice").alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            # avg as round(sum,2)/count so both engines divide the
            # SAME double (plain AVG of 2-dp money can land exactly on
            # a rounding boundary with engine-order-dependent sums)
            F.round(
                F.round(F.sum("l_quantity"), 2) / F.count(F.lit(1)), 6
            ).alias("avg_qty"),
            F.round(
                F.round(F.sum("l_extendedprice"), 2) / F.count(F.lit(1)), 6
            ).alias("avg_price"),
            F.round(
                F.round(F.sum("l_discount"), 2) / F.count(F.lit(1)), 6
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Extension queries: text analysis, dedup, similarity search (SURVEY.md §7.2
# step 6) over the documents/embeddings tables
# --------------------------------------------------------------------------


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, BPE-ish
    regex tokens, characters — per document."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    out = token_stats(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_unique_tokens").cast("long").alias("n_unique_tokens"),
        F.col("n_regex_tokens").cast("long").alias("n_regex_tokens"),
        F.col("n_chars_actual").cast("long").alias("n_chars_actual"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + a length/diversity/stopword
    composite in [0,1]."""
    _utc(spark)
    return quality_score(read_table(spark, sf_dir, "documents"))


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language identification with per-language scores."""
    _utc(spark)
    out = lang_id(read_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        *[
            F.col(f"score_{lang}").cast("long").alias(f"score_{lang}")
            for lang in LANG_MARKERS
        ],
        "detected_lang",
    )


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 exact-dup key + min-shingle-hash
    (1-permutation MinHash) near-dup key."""
    _utc(spark)
    return doc_fingerprints(read_table(spark, sf_dir, "documents"))


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (email / IPv4 / phone -> placeholder tokens) with
    per-kind audit counts.  The raw corpus carries no PII, so each doc
    is SALTED with a synthetic contact string first — the gate then
    proves actual replacement, not a no-op pass-through."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel 555-0199 ip 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    return redact_pii(seeded)


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch distinct count (rsd 2%) per day — the at-scale
    variant of daily_active_users' exact two-phase distinct: sketch
    partials are fixed-size and mergeable, so the shuffle carries one
    small sketch per (day, partition) no matter how many distinct
    users exist.  Sketch estimates are implementation-specific ->
    rows-only driver check; the tolerance gate vs the exact count is
    tests/test_sketches.py."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn("day", F.col("day").cast("timestamp"))
    )


def q_approx_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (approx_percentile) per event type —
    the at-scale variant of quantity_quantiles' exact percentile:
    like the HLL sketch, partials are bounded-size and mergeable, so
    the shuffle carries one sketch per (type, partition) instead of
    every value.  Sketch results are implementation-specific ->
    rows-only driver check; the tolerance gate vs exact percentiles
    is tests/test_sketches.py."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    q = events.groupBy("event_type").agg(
        F.percentile_approx(
            "value", [0.25, 0.5, 0.75], 10_000
        ).alias("qs"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return q.select(
        "event_type",
        F.round(F.col("qs")[0], 6).alias("p25"),
        F.round(F.col("qs")[1], 6).alias("p50"),
        F.round(F.col("qs")[2], 6).alias("p75"),
        "n_events",
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc repeated-trigram ratio — the boilerplate/looped-text
    quality filter; NULLs for docs below trigram support."""
    _utc(spark)
    return repetition_stats(read_table(spark, sf_dir, "documents"))


def q_benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: trigram overlap of every corpus doc against a
    pseudo-benchmark (docs 0-4 stand in for the eval set — they flag
    themselves, which is exactly the self-hit a real decontamination
    run must catch)."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 5)
    return benchmark_overlap(docs, bench, n=3, min_overlap=1)


def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups via hash-groupBy on md5(text)."""
    _utc(spark)
    return exact_dedup_groups(read_table(spark, sf_dir, "documents"))


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs (shingle -> banded minhash ->
    bucket join -> exact-Jaccard verify at 0.5)."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(
        docs, shingle_n=3, n_bands=8, threshold=0.5
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors for the first 100 vectors
    (query side broadcast; corpus scanned once)."""
    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 100), k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 for the first 100 vectors: 16 Voronoi
    cells, probe 4 — scans ~1/4 of the corpus per query instead of all
    of it (the ANN scale path beyond brute force)."""
    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb, emb.filter(F.col("vec_id") < 100), k=10, n_cells=16, n_probe=4
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 over REAL k-means Voronoi cells
    (~sqrt(N) cells, 3 Lloyd rounds, deterministic hash-spread init,
    adaptive n_probe = cells/3) — the production quantizer behind
    q_ivf_topk's oracle-replicable stand-in.  Cell means are
    float-summation-order sensitive across engines, so the driver
    records a rows-only check; the recall-vs-brute-force gate lives in
    tests/test_ivf_stateful.py and the bench reports measured
    recall@10 vs ann_cosine_topk per round."""
    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    out = ivf_kmeans_topk(emb, emb.filter(F.col("vec_id") < 100), k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _codes_str(col: str) -> F.Column:
    """Int-code array as a comma string — arrays canonicalize
    differently across the driver's pandas bridge (numpy repr vs
    list repr), scalars don't."""
    return F.array_join(
        F.transform(F.col(col), lambda c: c.cast("string")), ","
    )


def q_quantized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization of the embedding corpus onto its own
    global grid: (vec_id, codes_str, int_norm) — 4x smaller scan bytes
    for the ANN scan stage; exact integer arithmetic downstream."""
    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb)
    return out.select(
        "vec_id", _codes_str("codes").alias("codes_str"), "int_norm"
    )


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-10 in the int8 domain for the first 20 vectors
    — ranking by exact integer dot product (recall vs the float tier
    gated in tests/test_quantize.py)."""
    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    out = quantized_topk(emb, emb.filter(F.col("vec_id") < 20), k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode with deterministic (md5-picked)
    codebooks, 4 subspaces x 16 codes: (vec_id, pq_str) — 4 bytes per
    vector, the 64x compression of the coded ANN scan stage."""
    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    # collect the 1-row grid scale once: codebooks and encode both
    # consume it, and left implicit each would re-run the scale agg
    scale = _scale_value(quantization_scale(emb))
    books = pq_codebooks(emb, n_subspaces=4, n_codes=16, seed=42,
                         scale=scale)
    out = pq_encode(emb, books, scale=scale)
    return out.select("vec_id", _codes_str("pq_codes").alias("pq_str"))


def q_pq_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production PQ search shape: ADC scan over 4x16
    deterministic codebooks for a top-50 candidate pool (exact integer
    lookup-table distances), then exact float re-rank of only those
    candidates to the final top-10 — compressed-domain scan + raw-read
    of a vanishing fraction."""
    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    scale = _scale_value(quantization_scale(emb))
    books = pq_codebooks(emb, n_subspaces=4, n_codes=16, seed=42,
                         scale=scale)
    enc = pq_encode(emb, books, scale=scale)
    cand = pq_topk(enc, queries, books, scale, k=50)
    out = pq_rerank(cand, emb, queries, k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (faiss IVFADC shape): k-means coarse cells prune the
    candidate set, kmeans-trained int codebooks score survivors via
    ADC, exact re-rank of the top-100 pool.  K-means cell means and
    codebooks are float-summation-order sensitive across engines, so
    the driver records a rows-only check; the recall gate lives in
    tests/test_quantize.py (recall@10 vs brute force >= 0.7)."""
    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    cand = ivf_pq_topk(
        emb, queries, k=100, n_subspaces=8, n_codes=64, seed=42
    )
    out = pq_rerank(cand, emb, queries, k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_boilerplate_cleaned_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Frequency-based boilerplate removal (RefinedWeb line-wise
    correction over 8-token chunks): spans in >= 3 distinct docs are
    removed from EVERY doc, docs reassembled."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.chunking import (
        remove_common_chunks,
    )

    docs = read_table(spark, sf_dir, "documents")
    return remove_common_chunks(docs, chunk_tokens=8, min_docs=3)


def q_duplicate_span_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact duplicated-substring removal (Lee et al. 2022
    ExactSubstr re-expressed declaratively): every 16-token window
    shared by >= 2 distinct docs at ANY alignment marks its range;
    ranges merge into maximal spans and are excised from every doc."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.chunking import (
        remove_duplicate_spans,
    )

    docs = read_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, window_tokens=16, min_docs=2)


def q_incremental_span_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily-ingest duplicated-span excision: docs >= 400 cleaned as
    the NEW batch against the < 400 corpus's materialized window-hash
    table — batch windows probe corpus MEMBERSHIP (left-semi on the
    32-byte key), within-batch dups counted batch-side only; the
    corpus is never re-paired with itself."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.chunking import (
        remove_duplicate_spans_incremental,
        window_hash_table,
    )

    docs = read_table(spark, sf_dir, "documents")
    corpus_hashes = window_hash_table(
        docs.filter(F.col("doc_id") < 400), window_tokens=16
    )
    return remove_duplicate_spans_incremental(
        docs.filter(F.col("doc_id") >= 400),
        corpus_hashes=corpus_hashes,
        window_tokens=16,
    )


def q_duplicated_span_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 most-duplicated 16-token windows (what the shared
    boilerplate actually IS): counts run on the 32-byte md5 key only,
    window text recovered for the 20 winners alone."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.chunking import (
        duplicated_span_report,
    )

    docs = read_table(spark, sf_dir, "documents")
    return duplicated_span_report(docs, window_tokens=16, top_k=20)


def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 BPE statistics: top-20 weighted adjacent character
    pairs over the corpus word vocabulary (count DESC, pair asc —
    the deterministic argmax order training uses)."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.bpe import (
        bpe_pair_counts,
        word_vocab,
    )

    docs = read_table(spark, sf_dir, "documents")
    vocab = word_vocab(docs).select(
        F.split("word", "").alias("syms"), "wcount"
    )
    return (
        bpe_pair_counts(vocab)
        .orderBy(F.desc("pair_count"), "left", "right")
        .limit(20)
        .select(
            F.col("left").alias("left_sym"),
            F.col("right").alias("right_sym"),
            "pair_count",
        )
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8 trained BPE merges over the documents corpus (rows-only).

    r11: routed to the production trainer ``bpe_train_merges_local``
    — ONE distributed word_vocab shuffle + a bounded vocabulary
    collect + the incremental-update merge loop, instead of the
    distributed loop's 2 Spark jobs per merge round (16 jobs of pure
    fixed cost at this depth).  The merge table is bit-equal to the
    distributed trainer by the pinned equivalence contract
    (tests/test_bpe.py reference-equality + property gates;
    SCALECHECK exact-prefix gates at 500 K docs / 16 K merges)."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.bpe import (
        bpe_train_merges_local,
    )

    docs = read_table(spark, sf_dir, "documents")
    return bpe_train_merges_local(docs, n_merges=8)


def q_normalized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/C4 normalization before hashing (lowercase, punct ->
    space, digits -> 0, whitespace collapse) + the resulting
    exact-dup key."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.text import (
        normalize_for_dedup,
    )

    docs = read_table(spark, sf_dir, "documents")
    return normalize_for_dedup(docs).select(
        "doc_id",
        "norm_text",
        F.md5("norm_text").alias("norm_md5"),
    )


def _dsir_frames(spark: SparkSession, sf_dir: str):
    """The DSIR gate setup: 'src0' documents are the TARGET domain,
    everything else is the raw pool (the usual DSIR deployment:
    a curated seed corpus steering selection over a crawl)."""
    docs = read_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0")
    raw = docs.filter(F.col("source") != "src0")
    return raw, target


def q_wet_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/WET codec round trip, fully distributed: documents
    serialize into per-source WET archives (gzip-per-record, the
    Common Crawl layout) inside applyInPandas, then the real parser
    reads the bytes back via mapInPandas.  The oracle is the identity
    projection of documents — any framing, Content-Length, or utf-8
    defect breaks the hash."""
    _utc(spark)
    import pandas as pd

    from kafka_sparkstreaming_sbt_spark.sources.warc import (
        parse_warc_records,
        wet_bytes,
    )

    docs = read_table(spark, sf_dir, "documents")

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        recs = [
            (f"http://corpus.example/{d}", t)
            for d, t in zip(pdf["doc_id"], pdf["text"])
        ]
        return pd.DataFrame(
            {
                "path": [f"mem://{key[0]}.warc.wet.gz"],
                "content": [wet_bytes(recs, compress=True)],
            }
        )

    files = docs.groupBy("source").applyInPandas(
        build, "path string, content binary"
    )
    recs = parse_warc_records(files)
    return recs.filter(
        F.col("error").isNull() & (F.col("warc_type") == "conversion")
    ).select(
        F.regexp_extract(
            F.col("target_uri"), r"corpus\.example/(\d+)", 1
        )
        .cast("long")
        .alias("doc_id"),
        F.col("text").alias("text_out"),
        "content_length",
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 query-time top-k retrieval over the document
    corpus (operators/retrieval.py): query-term pushdown BEFORE the
    postings shuffle, doc length as a zero-shuffle per-row map, the
    avgdl/N scalar kept lazy via a broadcast cross join, and a
    TakeOrderedAndProject cut — no global sort, no unpartitioned
    window.  Per-term contributions quantized to integer micro-units
    so the per-doc sum is accumulation-order-independent and the
    DuckDB oracle hash-gates every value."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.retrieval import (
        bm25_topk,
    )

    docs = read_table(spark, sf_dir, "documents")
    out = bm25_topk(
        docs, ["customer", "merge", "scan", "spark"], k=20
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (operators/profile.py): per-column rows /
    nulls / exact distincts / native-typed min-max over the documents
    table in one scan + one bounded distinct pass per column (no
    Expand replay); the profile is itself a joinable table."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.profile import (
        profile_columns,
    )

    docs = read_table(spark, sf_dir, "documents")
    return profile_columns(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense retrieval (operators/retrieval.py
    rrf_fuse): reciprocal-rank fusion of the BM25 top-50 (lexical
    leg) with the cosine top-50 around doc 7's embedding (dense leg,
    vec_id keys the same corpus).  The fusion unions two bounded
    top-k lists, one partial->final integer sum per doc_id, and a
    TakeOrderedAndProject cut — exact nano-unit arithmetic so the
    DuckDB oracle hash-gates every fused score."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
    )

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    lexical = bm25_topk(
        docs, ["customer", "merge", "scan", "spark"], k=50
    ).select("doc_id", "rank")
    dense = cosine_topk(
        emb, emb.filter(F.col("vec_id") == 7), k=50
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    out = rrf_fuse([lexical, dense], k=20)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic (operators/skew.py key_skew_report): the
    10 heaviest event user_ids with row counts and corpus share — the
    pre-launch measurement that decides between a plain shuffle, AQE
    skew splitting, and explicit salting.  One partial->final count
    agg + a broadcast scalar total + TakeOrderedAndProject."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.skew import (
        key_skew_report,
    )

    events = read_table(spark, sf_dir, "events")
    out = key_skew_report(events, "user_id", top_n=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_pagerank_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (operators/graph.py pagerank) over
    the MinHash near-dup pair graph — the CCNet/RefinedWeb-style
    link-centrality quality prior, here ranking near-dup cluster
    hubs.  Exact pico-unit integer arithmetic (floor divisions +
    long sums) makes 3 rounds bit-identical on any engine and any
    partitioning, so the DuckDB oracle (3 chained CTE rounds over
    the same recursive-CTE-free edge table) hash-gates every rank."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.graph import (
        pagerank,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, shingle_n=3, n_bands=8, threshold=0.5
    ).select("doc_a", "doc_b")
    return pagerank(docs, pairs, n_iter=3)


def q_profile_drift_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile drift alarm (operators/profile.py profile_drift): the
    <450 corpus snapshot vs a >=50 snapshot where every 7th doc's
    lang is nulled and source is consolidated to one value — the
    null-jump and distinct-collapse alarms must fire, the range
    shift must register, and every rate is a 6-dp round of exact
    integer counts so the oracle hash-gates the whole alarm table."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.profile import (
        profile_columns,
        profile_drift,
    )

    docs = read_table(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    old = profile_columns(docs.filter(F.col("doc_id") < 450), cols)
    newdocs = (
        docs.filter(F.col("doc_id") >= 50)
        .withColumn(
            "lang",
            F.when(
                (F.col("doc_id") % 7) == 0, F.lit(None).cast("string")
            ).otherwise(F.col("lang")),
        )
        .withColumn("source", F.lit("consolidated"))
    )
    new = profile_columns(newdocs, cols)
    return profile_drift(old, new)


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff (operators/cdc.py snapshot_diff): the
    <450 snapshot vs a >=50 snapshot whose every 10th doc carries a
    ' v2' edit — emits only the |delta| (added / removed / changed
    keys with content hashes), each side collapsed to (key, md5) in
    the scan so no payload bytes cross the one full-outer join."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.cdc import (
        snapshot_diff,
    )

    docs = read_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 450).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") >= 50).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat("text", F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_diff(old, new, ["doc_id"], ["text"])


def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: every document weighted 1/|near-dup group| so each
    distinct content contributes unit mass to the training mixture —
    the down-weighting alternative to hard near-dup deletion.
    Composes the MinHash chain -> connected components -> one
    partial->final group count; oracle replays the chain with a
    recursive CTE."""
    from kafka_sparkstreaming_sbt_spark.operators.graph import (
        soft_dedup_weights,
    )

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, shingle_n=3, n_bands=8, threshold=0.5
    ).select("doc_a", "doc_b")
    return soft_dedup_weights(docs, pairs)


def q_bloom_screened_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast Bloom-filter exact-dedup screen (operators/bloom.py):
    the >=400 batch is screened against the <400 corpus by content —
    one corpus pass builds the bitmap (codegen'd xxhash64 double
    hashing, per-partition Arrow bit-sets, two-level OR fan-in), the
    batch test is map-only, and only the bloom-positive slice enters
    the exact confirm anti-join.  Semantics are EXACT (no false
    negatives), so the oracle is a plain NOT IN."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.bloom import (
        bloom_screen,
    )

    docs = read_table(spark, sf_dir, "documents")
    out = bloom_screen(
        docs.filter(F.col("doc_id") >= 400).select("doc_id", "text"),
        docs.filter(F.col("doc_id") < 400).select("text"),
        "text",
        expected_items=400,
        fpp=0.01,
    )
    return out.select("doc_id", F.md5("text").alias("content_hash"))


def q_dsir_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): hashed
    unigram+bigram bucket counts, add-1-smoothed target/raw
    multinomials, per-doc log ratio as an integer micro-nat sum —
    order-independent, so the DuckDB oracle hash-gates every value."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.dsir import (
        bucket_log_ratio,
        dsir_log_weights,
        hashed_ngram_counts,
    )

    raw, target = _dsir_frames(spark, sf_dir)
    # the raw featurization feeds the ratio denominator AND the
    # per-doc weight sum — materialize once (r11, the dsir_select
    # policy; blocks die with the RDD)
    rf = hashed_ngram_counts(raw, n_buckets=512).localCheckpoint(
        eager=True
    )
    tf = hashed_ngram_counts(target, n_buckets=512)
    return dsir_log_weights(rf, bucket_log_ratio(tf, rf, 512))


def q_nb_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style quality filter analog: multinomial NB over
    hashed unigram+bigram buckets, trained in two aggregations
    (label: lang='en' as the "keep" class), scored as integer
    micro-nat log-odds — training AND scoring fully oracle-replayed."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.classify import (
        nb_score,
        nb_train,
    )

    from kafka_sparkstreaming_sbt_spark.operators.dsir import (
        hashed_ngram_counts,
    )

    docs = read_table(spark, sf_dir, "documents")
    labeled = docs.withColumn(
        "label", (F.col("lang") == "en").cast("int")
    )
    # featurize the corpus ONCE for both training and scoring (r11):
    # the explode+count featurization is the dominant cost of each
    # stage and is identical in both — eager checkpoint so the two
    # consumers can never independently re-run it
    feats = hashed_ngram_counts(
        labeled.withColumn("_y", F.col("label").cast("int")),
        n_buckets=512,
        carry_cols=("_y",),
    ).localCheckpoint(eager=True)
    model = nb_train(
        labeled, "label", n_buckets=512, features=feats
    )
    return nb_score(
        docs, model, n_buckets=512, features=feats.drop("_y")
    )


def q_dsir_selected_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection: Gumbel-top-100 over the importance weights —
    sampling-without-replacement proportional to exp(log_weight),
    deterministic via the md5 Gumbel draw."""
    _utc(spark)
    from kafka_sparkstreaming_sbt_spark.operators.dsir import dsir_select

    raw, target = _dsir_frames(spark, sf_dir)
    return dsir_select(raw, target, 100, n_buckets=512)


def q_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket histogram (8-bit signatures)."""
    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        lsh_bucket(emb, dim=64, n_bits=8, seed=42)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def q_embedding_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed similar-embedding pairs: equi-join on the 4-bit
    bucket key, exact cosine >= 0.4 within buckets."""
    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    return lsh_near_pairs(emb, dim=64, threshold=0.4, n_bits=4, seed=42)


def q_embedding_similar_pairs_multitable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-table LSH near-pairs (``n_tables=2``): two independent
    hyperplane tables computed in ONE corpus scan and fanned out with
    a single explode; pairs colliding in either table are verified
    with the exact cosine and de-duplicated.  The recall lever of
    banding applied to embeddings — single-table recall p^n_bits
    becomes 1-(1-p^n_bits)^2 for 2x the candidate work.  The planes
    are seeded and data-independent (seed + 7919*t per table), so the
    DuckDB oracle replays the exact per-table buckets and unions the
    per-table pair sets."""
    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    return lsh_near_pairs(
        emb, dim=64, threshold=0.4, n_bits=4, seed=42, n_tables=2
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: assign every embedding to one of
    16 Voronoi cells, pairwise cosine ONLY within cells, drop rows
    with a smaller-id in-cell neighbor at cosine >= 0.4 — the
    embedding analog of MinHash near-dedup (per-cell quadratic, never
    all-pairs).  The quantizer here is the deterministic ``vec_id <
    16`` stand-in so the DuckDB oracle replicates assignment exactly;
    production uses ``kmeans_centroids`` (pytest-gated)."""
    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    cent = deterministic_centroids(emb, n_cells=16)
    out = semantic_dedup(emb, cent, threshold=0.4)
    # gate hash contract: booleans ride as 1/0 ints on both sides
    return out.withColumn("kept", F.col("kept").cast("int"))


def q_semantic_dedup_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-probe SemDeDup (``n_probe_cells=2``, BLAS tier): every
    embedding also joins the pair scan in its SECOND-nearest cell, so
    near-dups straddling a Voronoi boundary still meet — the loss
    mode of plain SemDeDup, which grows with cell count (measured at
    200 K adversarial vectors / 447 cells: clone-cluster collapse
    0.70 -> 0.97, see SCALECHECK.md).  The oracle replays the same
    top-2 assignment (rank ties to the smaller cell id) and
    any-shared-cell drop rule in SQL; the hash matches because this
    corpus has no 6-dp tie for BLAS-vs-sequential summation to break
    differently (the documented numpy-tier caveat)."""
    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    cent = deterministic_centroids(emb, n_cells=16)
    out = semantic_dedup(
        emb, cent, threshold=0.4, method="numpy", n_probe_cells=2
    )
    return out.withColumn("kept", F.col("kept").cast("int"))


def q_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling: nearest-centroid
    assignment (deterministic ``vec_id < 16`` quantizer so the oracle
    replays it exactly) + exactly-10-per-cell md5 draw — flattens the
    corpus's mode distribution toward its cluster structure, the
    curation step between dedup and mixture weighting."""
    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    cent = deterministic_centroids(emb, n_cells=16)
    return diverse_sample(emb, cent, k_per_cell=10)


def q_quantile_filtered_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group relative quality cut: keep the top 60% of every
    language's docs by length — the within-group percentile filter
    (absolute thresholds gut low-resource groups).  Threshold is the
    per-group EXACT interpolated percentile (partial-aggregatable; no
    per-group sort of the corpus), filter is a broadcast join back;
    ties at the threshold kept deterministically (>=)."""
    from kafka_sparkstreaming_sbt_spark.operators.sampling import (
        group_quantile_filter,
    )

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return group_quantile_filter(
        docs, "lang", "n_chars", keep_frac=0.6
    ).select("doc_id", "lang", "n_chars")


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation report composing the dedup chain: MinHash pairs ->
    transitive groups -> per-SOURCE duplicate contribution (docs a
    group-level dedup would delete from each source).  The table a
    pipeline operator reads before deciding which crawl/source to
    down-weight or drop wholesale.  Oracle replays the full chain
    (recursive-CTE components) and aggregates by source."""
    from kafka_sparkstreaming_sbt_spark.operators.graph import (
        dedup_report_by_key,
    )

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, shingle_n=3, n_bands=8, threshold=0.5
    ).select("doc_a", "doc_b")
    groups = near_dup_groups(docs, pairs)
    return dedup_report_by_key(docs, groups, key_col="source")


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class prototype vectors (nearest-class-mean / drift
    monitoring primitive), emitted one row per (label, dim) so the
    gate hashes scalars — the operator itself returns the assembled
    array.  Oracle unnests WITH ORDINALITY and averages per dim."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        label_centroids,
    )

    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    cent = label_centroids(emb)
    return cent.select(
        "label",
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.posexplode("centroid").alias("dim", "centroid_val"),
    ).select(
        "label",
        "n_vectors",
        F.col("dim").cast("long").alias("dim"),
        F.round("centroid_val", 6).alias("centroid_val"),
    )


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split assignment drawn from the near-dup GROUP representative
    (md5 nibble of group_id) so no component straddles train/eval —
    the leakage-safe variant of ``split_assignment``.  Oracle replays
    the recursive-CTE components and applies the same ascii-nibble
    CASE to group_id."""
    from kafka_sparkstreaming_sbt_spark.operators.sampling import (
        leakage_safe_split,
    )

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, shingle_n=3, n_bands=8, threshold=0.5
    ).select("doc_a", "doc_b")
    groups = near_dup_groups(docs, pairs)
    return leakage_safe_split(docs.select("doc_id"), groups).select(
        "doc_id", "group_id", "split"
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasheet aggregation: per (source, lang) document/char/token
    volumes and the exact-duplicate count — the release-notes table
    every corpus ships (Datasheets for Datasets).  One scan, one
    partial->final agg; the md5 distinct is exact (swap to
    approx_count_distinct at 100 TB when ~2% error is fine)."""
    from kafka_sparkstreaming_sbt_spark.operators.text import (
        corpus_stats,
    )

    _utc(spark)
    return corpus_stats(read_table(spark, sf_dir, "documents"))


def q_incremental_semantic_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental SemDeDup — the embedding-side daily-ingest screen
    (VERDICT r5 #2): rows ``vec_id >= 400`` arrive as today's batch
    against the ``vec_id < 400`` corpus; each batch row is assigned to
    the EXISTING deterministic centroids and paired only against
    in-cell corpus members (seniors-first) and earlier in-cell batch
    rows.  Verdicts are byte-identical to running full
    ``semantic_dedup`` over the union (parity-tested) at
    batch-proportional cost.  The deterministic ``vec_id < 16``
    quantizer makes the DuckDB oracle replay assignment exactly."""
    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)
    cent = deterministic_centroids(corpus, n_cells=16)
    out = incremental_semantic_dedup(batch, corpus, cent, threshold=0.4)
    return out.withColumn("kept", F.col("kept").cast("int"))


# --------------------------------------------------------------------------
# Relational analytics extensions (joins / windows / rollup / top-k —
# operator classes the reference lacks, SURVEY.md §2.12)
# --------------------------------------------------------------------------


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: revenue per nation in ASIA; broadcast dimension
    joins, single fact-side shuffle."""
    _utc(spark)
    return revenue_by_nation(
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "nation"),
        read_table(spark, sf_dir, "region"),
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by order value — rank-then-filter top-k with
    deterministic tie-breaks."""
    _utc(spark)
    return top_customers(
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "customer"),
        k=10,
    )


def q_monthly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions: per-status monthly revenue rank and
    running cumulative revenue."""
    _utc(spark)
    return monthly_order_stats(read_table(spark, sf_dir, "orders"))


def q_order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP multi-grain aggregation over (priority, status)."""
    _utc(spark)
    return order_priority_rollup(read_table(spark, sf_dir, "orders"))


def q_parts_without_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: parts never shipped with quantity > 49."""
    _utc(spark)
    return parts_without_bulk_shipments(
        read_table(spark, sf_dir, "part"),
        read_table(spark, sf_dir, "lineitem"),
    )


def q_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregate: per-customer order counts and average value."""
    _utc(spark)
    return customers_with_orders(
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "orders"),
    )


def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (Charikar) 64-bit document fingerprints as '0'/'1'
    strings — the rounding-hash sibling of MinHash."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return simhash_fingerprints(docs)


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded fingerprint join + exact hamming
    verify (complete for hamming <= 3 with 4 bands of 16 bits)."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    out = simhash_near_dup_pairs(docs, n_bands=4, max_hamming=3)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trigram-Jaccard near-dup pairs via prefix-filtered
    (AllPairs) inverted shingle index."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.6)


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) over the events stream table —
    built-in F.session_window, identical in batch and streaming."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    return user_sessions(events, gap="30 minutes")


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rollup of session windows: count, mean duration,
    total events."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    return session_stats(user_sessions(events, gap="30 minutes"))


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    click at or before it (union-sort implementation, one shuffle)."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    return purchases_with_last_click(events)


def q_purchase_prior_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: each purchase joined to the same user's
    events in the prior 24 h via time-binned equi-join (no
    BroadcastNestedLoopJoin), then count/sum per purchase."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    return purchase_prior_activity(events, window_hours=24)


def q_quantity_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90) per return flag —
    the EXACT percentile aggregate (sort-based within group), not the
    approx sketch, so the oracle can hash-match."""
    _utc(spark)
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 6).alias("p90_qty"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
    )


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width binning of event values: floor(value/10) buckets —
    deterministic integer binning, one aggregation pass."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.floor(F.col("value") / 10).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("bucket_value"),
        )
    )


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequencies, top 20: explode (generator) ->
    partial->final count -> TakeOrderedAndProject top-k (per-partition
    bounded heap; the corpus-wide token table never converges on one
    task) -> rank over the 20 survivors."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = global_topk_with_rank(
        counts, [("n", "desc"), ("token", "asc")], 20
    )
    return top.withColumn("rank", F.col("rank").cast("long"))


def q_skewed_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation wired into the gate: per-type
    event totals where 5 event types own ALL rows — exactly the
    hot-key shape where one final-stage reducer becomes the straggler.
    Deterministic salt (xxhash64 of the unique event id) spreads each
    hot key over 32 reducers; the result is salt-invariant, so the
    oracle is the plain GROUP BY sum."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    out = salted_sum(
        events, ["event_type"], "value", buckets=32, salt_on="event_id"
    )
    return out.select(
        "event_type", F.round("sum_value", 2).alias("total_value")
    )


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot compaction: each user's latest event (ties
    on ts broken by event id) via a single partial->final max_by
    aggregation — |users| rows shuffle, not |events|; the oracle
    spells the same thing as a rank window."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    out = latest_by_key(events, ["user_id"], "ts", tie_break="event_id")
    return out.withColumn("value", F.round("value", 2))


def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF per (doc, token): exploded postings -> partial
    counts; doc-length / doc-frequency aggregates over the counts
    table; lazy broadcast scalar for N."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return tf_idf(docs)


def q_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/valid/test assignment + per-split stats:
    deterministic content-hash bucketing, identical on any engine and
    any run (RNG-free)."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return (
        with_split(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 2/16 sample of the corpus by id-hash nibble — the rows
    themselves (doc_id, lang, source), proving the same sample is
    drawn on every engine."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", sixteenths=2).select(
        "doc_id", "lang", "source"
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified 2/16 sample: the hash key is salted
    with the stratum, so every language is an independent draw —
    reproducible on any engine, pushable to the scan."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", "doc_id", sixteenths=2).select(
        "doc_id", "lang"
    )


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed (alpha=0.5) language mixture: the
    over-represented language is down-sampled toward ``n^alpha``
    shares while the smallest language is kept whole — deterministic
    md5-byte draws against broadcast per-group rates, zero corpus
    shuffles (the training-mixture curation step)."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return temperature_mixture_sample(docs, "lang", "doc_id", alpha=0.5).select(
        "doc_id", "lang"
    )


def q_multi_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-grain time rollup: day and (day, hour)
    aggregates of event values in ONE pass via GROUPING SETS (the
    Expand operator feeds both grains from a single scan) — plus
    grouping_id to tell the grains apart."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT date_trunc('day', ts)  AS day,
               date_trunc('hour', ts) AS hour,
               CAST(grouping(date_trunc('hour', ts)) AS BIGINT) AS is_day_grain,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events_v
        GROUP BY GROUPING SETS (
          (date_trunc('day', ts)),
          (date_trunc('day', ts), date_trunc('hour', ts))
        )
        """
    )


def q_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation: per-day active users and event
    count.  count(DISTINCT) expands to a two-phase partial-distinct
    aggregate — no driver-side set, scales with key cardinality."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn("day", F.col("day").cast("timestamp"))
    )


def q_order_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with a declared value domain: per-priority counts, one
    column per order status."""
    _utc(spark)
    return order_status_pivot(read_table(spark, sf_dir, "orders"))


def q_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference: customers ordering in 1995 but not 1996."""
    _utc(spark)
    return lapsed_customers(read_table(spark, sf_dir, "orders"), 1995, 1996)


def q_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative connected components: MinHash near-dup pairs ->
    transitive dedup groups (group_id = min doc_id in component),
    singletons included.  Oracle is a DuckDB recursive CTE."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, shingle_n=3, n_bands=8, threshold=0.5
    ).select("doc_a", "doc_b")
    return near_dup_groups(docs, pairs)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synthetic binary media -> Arrow-batched
    mapInPandas decode -> per-item decoded stats (dims + mean pixel
    intensity), one row per media item.

    The synthetic payload is a CLOSED-FORM function of (media_id,
    dims) — body byte j is ``(media_id*31 + j*7) % 256`` (operators/
    multimodal.py:_encode_payload) — so the decode result is
    DuckDB-replicable from first principles and the full mapInPandas
    codec path gets a real hash-match gate, not a rows-only check."""
    _utc(spark)
    # 256 synthetic rows: a couple of partitions is plenty — more just
    # multiplies Python-worker startup cost for the Arrow UDF stages
    media = synthetic_media(spark, 256, partitions=2)
    decoded = decode_media(media)
    kinds = media.select("media_id", "kind")
    return decoded.join(F.broadcast(kinds), "media_id").select(
        "media_id",
        "kind",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.round("mean_intensity", 6).alias("mean_intensity"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction: Arrow mapInPandas 16-bin byte
    histogram per media item, exploded to (media_id, bin, share) rows
    so every value is a scalar the driver can hash.  Like the decode
    stage, the synthetic payload is closed-form in (media_id, dims),
    so the full Python codec path gets a DuckDB oracle."""
    _utc(spark)
    media = synthetic_media(spark, 256, partitions=2)
    feats = media_features(media)
    return feats.select(
        "media_id", F.posexplode("features").alias("bin", "share")
    ).select(
        "media_id",
        F.col("bin").cast("long").alias("bin"),
        F.round("share", 6).alias("share"),
    )


def q_customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead offset windows partitioned by customer: days since the
    previous and until the next order."""
    from kafka_sparkstreaming_sbt_spark.operators.analytics import (
        customer_order_gaps,
    )

    _utc(spark)
    out = customer_order_gaps(read_table(spark, sf_dir, "orders"))
    return out.withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp")
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup: docs >= 400 screened as the NEW batch
    against the < 400 corpus — batch x corpus bucket join (never
    corpus x corpus), corpus text re-shingled only for candidates."""
    from kafka_sparkstreaming_sbt_spark.operators.dedup_fuzzy import (
        incremental_near_dup,
    )

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return incremental_near_dup(
        docs.filter(F.col("doc_id") >= 400),
        docs.filter(F.col("doc_id") < 400),
        threshold=0.4,
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking of every document into 32-token chunks
    at stride 24 (8-token overlap) — split -> posexplode(sequence) ->
    slice, zero shuffle."""
    from kafka_sparkstreaming_sbt_spark.operators.chunking import (
        chunk_documents,
    )

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, stride=24)


def q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shuffle + contiguous sequence packing: md5-ranked
    epoch permutation into 16 shards, each shard's token stream cut
    into 256-token training sequences; every doc's (seq_index,
    seq_offset) is closed-form from the per-shard running token
    total.  One shuffle, per-shard windows only."""
    from kafka_sparkstreaming_sbt_spark.operators.chunking import (
        pack_documents,
    )

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return pack_documents(docs, seq_len=256)


def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 spenders per nation — the grouped top-k primitive, where
    a PARTITIONED rank window is the scale-correct tool (Catalyst
    inserts a partial WindowGroupLimit below the exchange, asserted in
    tests/test_plans.py)."""
    from kafka_sparkstreaming_sbt_spark.operators.topk import grouped_topk

    _utc(spark)
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spent")
    )
    joined = (
        spend.join(customer, spend.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            F.col("c_custkey").alias("custkey"),
            "total_spent",
        )
    )
    return grouped_topk(
        joined, ["n_name"], [("total_spent", "desc"), ("custkey", "asc")], 3
    )


def q_multimodal_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (every 2nd frame) over the synthetic media
    table: videos contribute frames 0 and 2, stills frame 0; per-frame
    mean intensity is closed-form in (media_id, dims, frame), giving
    the generator-style mapInPandas stage a hash-match oracle."""
    _utc(spark)
    media = synthetic_media(spark, 256, partitions=2)
    return frame_sample(media, every_k=2).select(
        "media_id",
        F.col("frame_index").cast("long").alias("frame_index"),
        F.round("frame_mean", 6).alias("frame_mean"),
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor resize of every media item's first frame to
    4x4, exploded to (media_id, pos, value) scalar rows.  The remap is
    integer-exact (src = dst * src_dim // 4), so resized pixels are a
    pure index transform of the closed-form payload bytes."""
    _utc(spark)
    media = synthetic_media(spark, 256, partitions=2)
    resized = resize_media(media, out_w=4, out_h=4)
    return resized.select(
        "media_id", F.posexplode("resized").alias("pos", "value")
    ).select(
        "media_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("value").cast("long").alias("value"),
    )


def q_rolling_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling window: trailing 90-day spend per customer
    as of each order, summed in integer cents so the rolling totals
    are accumulation-order independent across engines."""
    _utc(spark)
    orders = read_table(spark, sf_dir, "orders")
    return rolling_customer_spend(orders, days=90)


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style conditional-agg share: monthly promo revenue
    fraction via a CASE inside one aggregation over the broadcast
    part join."""
    _utc(spark)
    lineitem = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    return promo_revenue_share(lineitem, part)


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style HAVING filter with join-back: orders whose
    lineitem quantity total exceeds 250, with customer detail."""
    _utc(spark)
    return large_orders(
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "lineitem"),
        min_qty=250.0,
    )


def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build: each user's event_type stream collapsed to
    validity intervals (valid_from/valid_to/is_current/version) via
    two same-key windows — one shuffle total."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    return scd2_history(
        events, ["user_id"], "ts", "event_type", tie_break="event_id"
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sample: lineitems kept with
    probability ~quantity/50 decided by an md5 byte — reproducible
    importance sampling, scan-pushable predicate."""
    _utc(spark)
    li = read_table(spark, sf_dir, "lineitem").withColumn(
        "li_id", F.concat_ws("-", "l_orderkey", "l_linenumber")
    )
    return weighted_sample(li, "li_id", "l_quantity", 50.0).select(
        "l_orderkey", "l_linenumber", F.round("l_quantity", 2).alias("l_quantity")
    )


def q_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus unigram-LM document scoring: mean token log-prob in
    integer micro-nats (order-independent sums -> engine-identical)."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return unigram_lm_scores(docs)


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token collocations by PMI over exact integer counts;
    pairs seen >= 5 times."""
    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return bigram_pmi(docs, min_count=5)


def q_gap_filled_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable gap-fill: dense per-user daily spend spine with
    LOCF fill for missing days — declared sequence/explode spine,
    one window shuffle."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    return gap_fill_locf(events, "user_id", "ts", "value")


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score anomalies (|z| > 2): one stats aggregate
    joined back, no windows — cutoffs divide cent-rounded sums so
    every engine draws the same boundary."""
    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    return grouped_zscore_outliers(
        events, "event_type", "value", ["event_id", "user_id"], z=2.0
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters over the corpus token stream:
    build a 4x256 sketch (one bounded-shuffle partial->final agg),
    then keep tokens whose ESTIMATED count >= 500 — the sketch decides,
    no exact second pass.  Unlike the HLL/KLL gates this sketch is
    fully deterministic given the md5 hash family, so the DuckDB
    oracle hash-matches exactly."""
    from kafka_sparkstreaming_sbt_spark.operators.sketches import (
        cms_heavy_hitters,
    )
    from kafka_sparkstreaming_sbt_spark.plans import parallelize_for_compute

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    toks = parallelize_for_compute(docs).select(
        F.explode(F.split("text", " ")).alias("token")
    )
    return cms_heavy_hitters(toks, "token", min_count=500).select(
        "token", "est_count"
    )


def q_chunk_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document span dedup: every 8-token chunk that
    repeats anywhere in the corpus survives only at its first
    (doc_id, chunk_index) occurrence; docs are reassembled from the
    surviving chunks."""
    from kafka_sparkstreaming_sbt_spark.operators.chunking import (
        drop_duplicate_chunks,
    )
    from kafka_sparkstreaming_sbt_spark.plans import parallelize_for_compute

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return drop_duplicate_chunks(parallelize_for_compute(docs), chunk_tokens=8)


def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End of the dedup pipeline: MinHash pairs -> transitive groups ->
    elect the canonical doc per group by HIGHEST n_chars (keep the
    longest copy; ties -> lowest id) — every doc labeled with its
    group, its canonical, and the keep/drop verdict."""
    from kafka_sparkstreaming_sbt_spark.operators.graph import (
        select_canonical,
    )

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, shingle_n=3, n_bands=8, threshold=0.5
    ).select("doc_a", "doc_b")
    # keep as 1/0 int: the driver's value-hash gate has only ever seen
    # int/str/float/timestamp columns (the scd2 gate made the same
    # choice for is_current), so don't bet a green row on bool hashing
    return select_canonical(docs, pairs, score_col="n_chars").withColumn(
        "keep", F.col("keep").cast("int")
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over orders: first-order month cohorts x
    months-since-first, with active counts and retention rate."""
    from kafka_sparkstreaming_sbt_spark.operators.analytics import (
        cohort_retention,
    )

    _utc(spark)
    return cohort_retention(read_table(spark, sf_dir, "orders"))


def q_customer_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer monthly-spend regression (exact integer moment
    sums in one hash aggregation; no window, no Python) for customers
    active >= 3 distinct months."""
    from kafka_sparkstreaming_sbt_spark.operators.analytics import (
        customer_spend_trend,
    )

    _utc(spark)
    return customer_spend_trend(read_table(spark, sf_dir, "orders"))


def q_purchase_state_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) enrichment — the standard CDC consumption
    pattern: each purchase joined to the SCD2 state version valid AT
    its event time, composed as scd2_history -> asof_join on
    valid_from (one shuffle each; versions are non-overlapping, so
    the as-of backward match IS the containing interval — no range
    join, no BroadcastNestedLoopJoin).  Zero-length versions (two
    state changes at one timestamp) are filtered so the match is
    deterministic; the oracle applies the same guard."""
    from kafka_sparkstreaming_sbt_spark.operators.asof import asof_join
    from kafka_sparkstreaming_sbt_spark.operators.cdc import scd2_history

    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    # history over NON-purchase activity: the purchase then looks up
    # what the user was doing at the time (a purchase's own event_type
    # would trivially be its state otherwise); purchases before any
    # other activity keep NULL state — left-join semantics
    hist = scd2_history(
        events.filter(F.col("event_type") != "purchase"),
        ["user_id"],
        "ts",
        "event_type",
        tie_break="event_id",
    ).filter(
        F.col("valid_to").isNull()
        | (F.col("valid_to") > F.col("valid_from"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        purchases,
        hist.select("user_id", "valid_from", "state", "version"),
        on="user_id",
        left_ts="ts",
        right_ts="valid_from",
        right_cols=["state", "version"],
        suffix="",
    ).select("event_id", "user_id", "ts", "state", "version")


def q_attribution_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of attribution: the last click counts only
    within a 6-hour window before the purchase — stale matches null
    out rather than falling back to an older click (pandas merge_asof
    tolerance semantics, one shuffle)."""
    from kafka_sparkstreaming_sbt_spark.operators.asof import asof_join

    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    j = asof_join(
        purchases,
        clicks,
        on="user_id",
        right_ts="click_ts",
        right_cols=["click_ts"],
        suffix="",
        tolerance_seconds=6 * 3600,
    )
    return j.select(
        "event_id",
        "user_id",
        "ts",
        F.col("click_ts").alias("recent_click_ts"),
    )


def q_next_event_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each purchase joined to the user's NEXT click at
    or after it (direction='forward' — the same single-shuffle carry
    pass over reversed time order)."""
    from kafka_sparkstreaming_sbt_spark.operators.asof import asof_join

    _utc(spark)
    events = read_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    j = asof_join(
        purchases,
        clicks,
        on="user_id",
        right_ts="click_ts",
        right_cols=["click_ts"],
        suffix="",
        direction="forward",
    )
    return j.select(
        "event_id", "user_id", "ts", F.col("click_ts").alias("next_click_ts")
    )


def q_sample_k_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-group deterministic sampling: 20 docs per source,
    elected by md5 rank (stratum-salted draw), cut with the
    map-side-pruned grouped top-k plan."""
    from kafka_sparkstreaming_sbt_spark.operators.sampling import (
        sample_k_per_group,
    )

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return sample_k_per_group(docs, "source", "doc_id", k=20).select(
        "doc_id", "source", "draw_rank"
    )


def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-set audit (Rae et al. 2021 Table A1 re-expressed
    as codegen'd per-row maps — word-count bounds, mean word length,
    stopword floor, symbol ratio, alphabetic-word fraction, and the
    conjunction ``keep``); min_words=25 splits the synthetic corpus
    nontrivially (370/500 kept at sf0.01)."""
    from kafka_sparkstreaming_sbt_spark.operators.text import (
        gopher_quality_flags,
    )

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    out = gopher_quality_flags(docs, min_words=25)
    # flags as 1/0 ints — the driver gate's value hash is only
    # exercised on int/str/float/timestamp columns (see canonical_docs)
    return out.select(
        "doc_id", "n_words", "mean_word_len", "stop_hits",
        "symbol_ratio", "alpha_frac",
        *[
            F.col(c).cast("int").alias(c)
            for c in (
                "words_ok", "mean_len_ok", "stop_ok", "symbol_ok",
                "alpha_ok", "keep",
            )
        ],
    )


def q_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a 10 K-token training budget from the highest-quality
    documents down (quality DESC, doc_id ASC) — the fixed-compute
    selection step, executed with bucketed prefix sums instead of a
    single-partition global window (operators.sampling.
    select_to_token_budget)."""
    from kafka_sparkstreaming_sbt_spark.operators.sampling import (
        select_to_token_budget,
    )
    from kafka_sparkstreaming_sbt_spark.operators.text import (
        quality_score,
    )

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    scored = quality_score(docs).join(
        docs.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        ),
        "doc_id",
    )
    return select_to_token_budget(
        scored, 10_000, "n_tokens", "quality_score"
    ).select("doc_id", "quality_score", "n_tokens", "run_before")


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for the first 50 vectors,
    the 5 most-cosine-similar corpus vectors with a DIFFERENT label
    (query side broadcast, same-label pairs excluded in the join
    predicate, map-side WindowGroupLimit prune)."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        hard_negatives,
    )

    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    out = hard_negatives(emb, emb.filter(F.col("vec_id") < 50), k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_knn_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-NN graph over the first 200 vectors (the
    oracle-replayable tier; the scale path is the k-means cell-blocked
    cogroup variant, recall-gated in tests/test_dedup_similarity.py)."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        knn_graph,
    )

    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    return knn_graph(
        emb.filter(F.col("vec_id") < 200), k=5, method="exact"
    )


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of majority-vote label propagation over the exact
    5-NN graph of the first 200 vectors, seeded with the first 20 true
    labels — integer votes, ties to the smaller label, seeds
    clamped."""
    from kafka_sparkstreaming_sbt_spark.operators.graph import (
        label_propagation,
    )
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        knn_graph,
    )

    _utc(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    sub = emb.filter(F.col("vec_id") < 200)
    edges = knn_graph(sub, k=5, method="exact")
    seeds = emb.filter(F.col("vec_id") < 20).select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    return label_propagation(edges, seeds, n_rounds=2)


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging of the document corpus: 4 exact-quantile
    difficulty stages over the quality score + a deterministic
    md5 within-stage shuffle key."""
    from kafka_sparkstreaming_sbt_spark.operators.sampling import (
        curriculum_order,
    )
    from kafka_sparkstreaming_sbt_spark.operators.text import (
        quality_score,
    )

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents")
    return curriculum_order(
        quality_score(docs).select("doc_id", "quality_score"),
        "quality_score",
        n_stages=4,
    )


def _sql_hex8(col: str) -> str:
    """DuckDB expression: first 8 hex chars of md5 column ``col`` as
    an unsigned 32-bit integer — same ascii-arithmetic nibble decode
    the SimHash/packing oracles use (no shared hex-to-int builtin
    between the engines)."""
    val = "CAST(0 AS BIGINT)"  # BIGINT accumulator: 8 nibbles overflow INT32
    for i in range(1, 9):
        nib = (
            f"CASE WHEN ascii(substr({col}, {i}, 1)) <= 57 "
            f"THEN ascii(substr({col}, {i}, 1)) - 48 "
            f"ELSE ascii(substr({col}, {i}, 1)) - 87 END"
        )
        val = f"({val} * 16 + {nib})"
    return val


def _sql_hex4(col: str) -> str:
    """DuckDB expression: first 4 hex chars of md5 column ``col`` as
    an integer 0..65535 (the DSIR bucket draw — mirrors Spark's
    ``conv(substring(md5(...), 1, 4), 16, 10)``)."""
    val = "0"
    for i in range(1, 5):
        nib = (
            f"CASE WHEN ascii(substr({col}, {i}, 1)) <= 57 "
            f"THEN ascii(substr({col}, {i}, 1)) - 48 "
            f"ELSE ascii(substr({col}, {i}, 1)) - 87 END"
        )
        val = f"({val} * 16 + {nib})"
    return val


def _dsir_cte() -> str:
    """Shared DuckDB prefix replaying the DSIR pipeline exactly:
    unigram+bigram build, md5-hex4 bucket hash mod 512, per-(doc,
    bucket) counts, add-1-smoothed target/raw bucket multinomials
    ('src0' is the target domain), and per-doc integer micro-nat
    weights (integer sums — order-independent, hash-gateable)."""
    return f"""
        WITH toks AS (
          SELECT doc_id, source, string_split(text, ' ') AS t
          FROM documents
        ),
        ngr AS (
          SELECT doc_id, source,
                 unnest(list_concat(t,
                     list_transform(range(1, len(t)),
                                    i -> t[i] || '_' || t[i + 1]))) AS ng
          FROM toks
        ),
        hb AS (SELECT doc_id, source, md5('7:' || ng) AS m FROM ngr),
        feats AS (
          SELECT doc_id, source,
                 CAST({_sql_hex4('m')} % 512 AS INTEGER) AS bucket,
                 COUNT(*) AS cnt
          FROM hb GROUP BY 1, 2, 3
        ),
        tf AS (SELECT bucket, SUM(cnt) AS c_t FROM feats
               WHERE source = 'src0' GROUP BY 1),
        rfb AS (SELECT bucket, SUM(cnt) AS c_r FROM feats
                WHERE source <> 'src0' GROUP BY 1),
        nt AS (SELECT COALESCE(SUM(cnt), 0) AS n_t FROM feats
               WHERE source = 'src0'),
        nr AS (SELECT COALESCE(SUM(cnt), 0) AS n_r FROM feats
               WHERE source <> 'src0'),
        spine AS (SELECT unnest(range(512)) AS bucket),
        ratio AS (
          SELECT spine.bucket,
                 CAST(ROUND((ln((COALESCE(c_t, 0) + 1.0) / (n_t + 512.0))
                           - ln((COALESCE(c_r, 0) + 1.0) / (n_r + 512.0)))
                            * 1000000) AS BIGINT) AS ratio_micro
          FROM spine LEFT JOIN tf USING (bucket)
                     LEFT JOIN rfb USING (bucket), nt, nr
        ),
        w AS (
          SELECT doc_id, CAST(SUM(cnt * ratio_micro) AS BIGINT) AS w_micro
          FROM feats JOIN ratio USING (bucket)
          WHERE source <> 'src0' GROUP BY 1
        )
    """


def _documents_fingerprint(sf_dir: str) -> str:
    """Content fingerprint of ``{sf_dir}/documents.parquet`` (file or
    part-file directory): md5 over sorted (relpath, size, mtime_ns)
    triples, so a regenerated table at the same path yields a NEW
    scratch key instead of silently answering from a stale index.
    Local-filesystem helper (the scratch cache it keys lives in the
    local tempdir); a MISSING table yields a constant sentinel tag
    instead of an unhandled error — the subsequent read_table raises
    the actionable message, and no index can commit for a table that
    cannot be read.  Any other OSError propagates: collapsing, say,
    a permission failure into the sentinel while the JVM reader still
    sees the file would silently serve a stale index across
    regenerations — the exact staleness this fingerprint exists to
    prevent (and the constant tag would also prune every valid
    sibling)."""
    import hashlib
    import os

    root = os.path.join(sf_dir, "documents.parquet")
    parts = []
    try:
        if os.path.isdir(root):
            for dirpath, _dirs, files in os.walk(root):
                for fn in files:
                    p = os.path.join(dirpath, fn)
                    st = os.stat(p)
                    parts.append(
                        (
                            os.path.relpath(p, root),
                            st.st_size,
                            st.st_mtime_ns,
                        )
                    )
        else:
            st = os.stat(root)
            parts.append((".", st.st_size, st.st_mtime_ns))
    except FileNotFoundError:
        return "nodata"
    return hashlib.md5(repr(sorted(parts)).encode()).hexdigest()[:16]


def _bm25_scratch_dir(sf_dir: str) -> str:
    """Reusable-index scratch location: ONE parent dir per sf path
    (md5 of the absolute path) holding one subdir per content
    fingerprint.  Building a new generation best-effort prunes the
    stale sibling fingerprints under the same parent (ADVICE r10 #2:
    flat fingerprint-keyed dirs leaked one full index per
    documents.parquet regeneration — mtime_ns changes even for
    identical content)."""
    import hashlib
    import os
    import shutil
    import tempfile

    parent = os.path.join(
        tempfile.gettempdir(),
        "bm25_index_"
        + hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12],
    )
    tag = _documents_fingerprint(sf_dir)
    if os.path.isdir(parent):
        for name in os.listdir(parent):
            if name != tag:
                shutil.rmtree(
                    os.path.join(parent, name), ignore_errors=True
                )
    return os.path.join(parent, tag)


def q_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over the MATERIALIZED inverted index (postings
    partitioned by term-hash bucket + generation, dfreq/stats as the
    committed meta): builds generation 0 under a scratch dir keyed by
    a CONTENT fingerprint of the documents table (path alone is not
    enough: regenerating the data at the same sf_dir must invalidate
    the cache) — reused across invocations, so repeated calls (and
    plan-only calls from test_plans) hit the committed generation
    instead of leaking a fresh build per call — then answers the same
    query as bm25_topk through partition-pruned reads — identical
    output by the shared scoring tail."""
    from kafka_sparkstreaming_sbt_spark.operators.retrieval import (
        _committed_generation,
        bm25_topk_from_index,
        build_inverted_index,
    )

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    idx = _bm25_scratch_dir(sf_dir)
    if _committed_generation(spark, idx) < 0:
        build_inverted_index(docs, idx, n_buckets=16)
    out = bm25_topk_from_index(
        spark, idx, ["customer", "merge", "scan", "spark"], k=20
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_bm25_multi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BM25 serving: three queries scored against the corpus
    in ONE scan (term-union broadcast semi-join prunes the postings
    before the one aggregation shuffle; tf/df computed once and
    fanned out per query; map-side-pruned per-query rank)."""
    from kafka_sparkstreaming_sbt_spark.operators.retrieval import (
        bm25_topk_many,
    )

    _utc(spark)
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    qs = spark.createDataFrame(
        [
            (1, ["customer", "merge"]),
            (2, ["spark"]),
            (3, ["scan", "window", "key"]),
        ],
        "query_id long, terms array<string>",
    )
    out = bm25_topk_many(docs, qs, k=15)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _knn_cte() -> str:
    """Shared DuckDB prefix: the exact 5-NN graph over the first 200
    embedding vectors (cosine DESC, dst ASC rank — the same total
    order as operators.similarity.knn_graph's exact tier)."""
    return """
        WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                          list_transform(embedding,
                                         x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings WHERE vec_id < 200),
        s AS (SELECT q.vec_id AS src, c.vec_id AS dst,
                     ROUND(list_dot_product(q.v, c.v)
                           / (sqrt(list_dot_product(q.v, q.v))
                              * sqrt(list_dot_product(c.v, c.v))), 6)
                       AS cosine
              FROM e q, e c WHERE q.vec_id <> c.vec_id),
        knn AS (SELECT src, dst, cosine,
                       row_number() OVER (PARTITION BY src
                                          ORDER BY cosine DESC, dst)
                         AS rank
                FROM s QUALIFY rank <= 5)
    """


#: queries() entries with no oracle_sql twin — the driver records a
#: weaker rows-only check for these.  ivf_kmeans_topk: k-means cell
#: means are float-summation-order sensitive across engines, so its
#: gate is the pytest recall-vs-brute-force threshold, not SQL.
#: approx_distinct_users: HLL++ sketch estimates are engine-specific;
#: its gate is the pytest tolerance check against the exact count.
#: approx_value_quantiles: same reasoning as the HLL sketch — the
#: quantile sketch's estimates are engine-specific.
NON_SQL_QUERIES: set[str] = {
    "ivf_kmeans_topk",
    "approx_distinct_users",
    "approx_value_quantiles",
    # k-means coarse cells + kmeans-trained codebooks (same
    # float-summation reasoning as ivf_kmeans_topk); recall gate in
    # tests/test_quantize.py
    "ivf_pq_topk",
    # iterative (8 sequential argmax+merge rounds) — SQL would need
    # 8 chained CTEs with a fold per word; gated instead by exact
    # reference-equality tests incl. a Hypothesis property
    # (tests/test_bpe.py); round-1 statistics ARE oracle-gated as
    # bpe_pair_stats
    "bpe_merges",
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's signature daily spending rollup
    (windowed A1 -> dedup -> A3) on sf0.001."""
    return q_daily_spending_rollup(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness gate recorded exactly the
    # FIRST 50 entries in round 3 (CORRECTNESS_r03.json has 50 rows
    # while 67 queries existed), so the first 50 here are a curated,
    # oracle-complete set covering every operator family; the overflow
    # block holds same-family variants (still oracle-gated —
    # `python scripts/measure.py oracle` checks ALL of them) and the
    # four rows-only sketch/ANN queries last.
    #
    # ROTATED in r8 (VERDICT r7 #4): the r6/r7 families (PQ, BM25, RRF,
    # PageRank, profiling, Bloom, soft-dedup, DSIR, NB, WARC) moved
    # INTO the gate window; ten long-stable same-family variants moved
    # to overflow — still oracle-gated by `measure.py oracle`, past the
    # driver's 50-row record.
    #
    # ROTATED AGAIN in r9 (VERDICT r8 #4): nine r8 families
    # (duplicate_span_docs, normalized_docs, bpe_pair_stats,
    # gopher_quality_flags, token_budget_selection, hard_negatives,
    # knn_graph_edges, label_propagation, bm25_multi_query) moved INTO
    # the gate window for driver-verified rows; the entries moved to
    # overflow are exactly the ones whose FAMILY keeps a window
    # sibling (order_priority_rollup, split_assignment, text_quality,
    # text_lang_id, canonical_docs, cohort_retention, customer_trend,
    # purchase_state_pit, bigram_pmi) — the family-coverage contract
    # in tests/test_gate_curation.py binds the rotation, and 50 slots
    # cannot hold every legacy family AND all ten r8 entries, so
    # duplicated_span_report (whose span family already has a driver
    # row via duplicate_span_docs, and whose LIMIT-order oracle the
    # full sim still hash-checks) leads the overflow instead.
    #
    # THIRD ROTATION in r10 (VERDICT r9 #4): six long-sim-only entries
    # get driver rows — duplicated_span_report, curriculum_order,
    # bm25_topk_indexed, corpus_diff, table_profile, key_skew_report —
    # each displacing a long-stable SAME-FAMILY resident (same
    # operator module, family sets updated in test_gate_curation.py):
    # duplicate_span_docs (chunking/span), stratified_sample
    # (sampling), bm25_topk (retrieval), latest_event_per_user (cdc),
    # profile_drift_alarm (profile), skewed_event_totals (skew).  The
    # displaced six lead the overflow — still hash-checked against
    # their oracles by the full local sim every session.
    #
    # FOURTH ROTATION in r11 (VERDICT r10 #2): seven never-driver-
    # gated SQL-oracled entries move into the window — semantic_dedup,
    # leakage_safe_split, dup_rate_by_source, pq_codes,
    # incremental_span_dedup, dsir_doc_weights, unigram_lm_score —
    # each displacing a same-module resident that already holds a
    # driver row: embedding_similar_pairs (similarity pairwise
    # screen), curriculum_order (sampling), soft_dedup_weights (graph
    # group weights/rates), pq_topk_rerank (quantize),
    # duplicated_span_report (chunking/span), dsir_selected_docs
    # (dsir), tf_idf (text.py LM scoring).  Never-driver-gated count
    # drops 25 -> 18 (monotone ledger pinned in
    # test_gate_curation.py).
    return {
        # -- reference parity (SURVEY §2) --
        "windowed_spending_per_customer": q_windowed_spending_per_customer,
        "daily_spending_rollup": q_daily_spending_rollup,
        "json_decode_props": q_json_decode_props,
        # -- relational / OLAP --
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "top_customers_per_nation": q_top_customers_per_nation,
        "order_status_pivot": q_order_status_pivot,
        "lapsed_customers": q_lapsed_customers,
        "multi_grain_rollup": q_multi_grain_rollup,
        "rolling_customer_spend": q_rolling_customer_spend,
        "promo_revenue_share": q_promo_revenue_share,
        # -- events / time series / state --
        "user_sessions": q_user_sessions,
        "purchase_attribution": q_purchase_attribution,
        "key_skew_report": q_key_skew_report,
        "corpus_diff": q_corpus_diff,
        "scd2_user_state": q_scd2_user_state,
        # -- sampling / stats / selection --
        "leakage_safe_split": q_leakage_safe_split,
        "quantity_quantiles": q_quantity_quantiles,
        "token_budget_selection": q_token_budget_selection,
        # -- text analysis / quality --
        "text_token_stats": q_text_token_stats,
        "unigram_lm_score": q_unigram_lm_score,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "chunk_dedup_docs": q_chunk_dedup_docs,
        "normalized_docs": q_normalized_docs,
        "gopher_quality_flags": q_gopher_quality_flags,
        "bpe_pair_stats": q_bpe_pair_stats,
        # -- dedup --
        "exact_dedup_docs": q_exact_dedup_docs,
        "minhash_near_dup": q_minhash_near_dup,
        "simhash_near_dup": q_simhash_near_dup,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "near_dup_groups": q_near_dup_groups,
        "bloom_screened_docs": q_bloom_screened_docs,
        "dup_rate_by_source": q_dup_rate_by_source,
        "incremental_span_dedup": q_incremental_span_dedup,
        # -- similarity search / quantization / graph --
        "ann_cosine_topk": q_ann_cosine_topk,
        "semantic_dedup": q_semantic_dedup,
        "ivf_topk": q_ivf_topk,
        "pq_codes": q_pq_codes,
        "hard_negatives": q_hard_negatives,
        "knn_graph_edges": q_knn_graph_edges,
        "label_propagation": q_label_propagation,
        # -- retrieval / graph / selection / profiling (r6-r8) --
        "bm25_topk_indexed": q_bm25_topk_indexed,
        "bm25_multi_query": q_bm25_multi_query,
        "hybrid_retrieval_rrf": q_hybrid_retrieval,
        "pagerank_weights": q_pagerank_weights,
        "dsir_doc_weights": q_dsir_doc_weights,
        "nb_quality_scores": q_nb_quality_scores,
        "wet_roundtrip_docs": q_wet_roundtrip_docs,
        "table_profile": q_table_profile,
        # -- multimodal --
        "multimodal_decode": q_multimodal_decode,
        # ---- overflow: same-family variants (all still oracle-gated;
        # ---- past the driver gate's 50-row record) ----
        "embedding_similar_pairs": q_embedding_similar_pairs,
        "curriculum_order": q_curriculum_order,
        "tf_idf": q_tf_idf,
        "soft_dedup_weights": q_soft_dedup_weights,
        "pq_topk_rerank": q_pq_topk_rerank,
        "duplicated_span_report": q_duplicated_span_report,
        "dsir_selected_docs": q_dsir_selected_docs,
        "duplicate_span_docs": q_duplicate_span_docs,
        "bm25_topk": q_bm25_topk,
        "stratified_sample": q_stratified_sample,
        "latest_event_per_user": q_latest_event_per_user,
        "profile_drift_alarm": q_profile_drift_alarm,
        "skewed_event_totals": q_skewed_event_totals,
        "order_priority_rollup": q_order_priority_rollup,
        "split_assignment": q_split_assignment,
        "text_quality": q_text_quality,
        "text_lang_id": q_text_lang_id,
        "canonical_docs": q_canonical_docs,
        "cohort_retention": q_cohort_retention,
        "customer_trend": q_customer_trend,
        "purchase_state_pit": q_purchase_state_pit,
        "bigram_pmi": q_bigram_pmi,
        "windowed_spending_per_event": q_windowed_spending_per_event,
        "daily_spending_direct": q_daily_spending_direct,
        "monthly_order_stats": q_monthly_order_stats,
        "parts_without_bulk": q_parts_without_bulk,
        "customer_order_gaps": q_customer_order_gaps,
        "purchase_prior_activity": q_purchase_prior_activity,
        "redact_pii": q_redact_pii,
        "repetition_stats": q_repetition_stats,
        "benchmark_overlap": q_benchmark_overlap,
        "packed_sequences": q_packed_sequences,
        "multimodal_features": q_multimodal_features,
        "multimodal_frame_stats": q_multimodal_frame_stats,
        "multimodal_resize": q_multimodal_resize,
        "doc_chunks": q_doc_chunks,
        "doc_fingerprints": q_doc_fingerprints,
        "simhash_fingerprints": q_simhash_fingerprints,
        "incremental_dedup": q_incremental_dedup,
        "lsh_bucket_stats": q_lsh_bucket_stats,
        "top_customers": q_top_customers,
        "top_tokens": q_top_tokens,
        "large_orders": q_large_orders,
        "customer_order_stats": q_customer_order_stats,
        "session_stats": q_session_stats,
        "daily_active_users": q_daily_active_users,
        "value_histogram": q_value_histogram,
        "deterministic_sample": q_deterministic_sample,
        "sample_k_per_source": q_sample_k_per_source,
        "gap_filled_daily": q_gap_filled_daily,
        "attribution_windowed": q_attribution_windowed,
        "next_event_after_purchase": q_next_event_after_purchase,
        "weighted_sample": q_weighted_sample,
        "value_outliers": q_value_outliers,
        "semantic_dedup_multiprobe": q_semantic_dedup_multiprobe,
        "mixture_sample": q_mixture_sample,
        "embedding_similar_pairs_multitable": (
            q_embedding_similar_pairs_multitable
        ),
        "incremental_semantic_dedup": q_incremental_semantic_dedup,
        "diverse_sample": q_diverse_sample,
        "quantile_filtered_docs": q_quantile_filtered_docs,
        "corpus_stats": q_corpus_stats,
        "label_centroids": q_label_centroids,
        "quantized_embeddings": q_quantized_embeddings,
        "quantized_topk": q_quantized_topk,
        "boilerplate_cleaned_docs": q_boilerplate_cleaned_docs,
        # ---- rows-only (NON_SQL_QUERIES, pytest-gated) last ----
        "approx_distinct_users": q_approx_distinct_users,
        "approx_value_quantiles": q_approx_value_quantiles,
        "ivf_kmeans_topk": q_ivf_kmeans_topk,
        "ivf_pq_topk": q_ivf_pq_topk,
        "bpe_merges": q_bpe_merges,
    }


def oracle_sql() -> dict[str, str]:
    oracles = {
        "windowed_spending_per_customer": _WINDOW_EXPANSION
        + """
        SELECT user_id, window_start,
               window_start + INTERVAL 10 MINUTE AS window_end,
               ROUND(SUM(value), 2) AS total_spent
        FROM expanded GROUP BY 1, 2, 3
        """,
        "windowed_spending_per_event": _WINDOW_EXPANSION
        + """
        SELECT user_id, event_id, window_start,
               window_start + INTERVAL 10 MINUTE AS window_end,
               ROUND(SUM(value), 2) AS window_total_spent
        FROM expanded GROUP BY 1, 2, 3, 4
        """,
        # the deterministic rollup keeps each event's LATER window, whose
        # start is the slide-aligned floor of ts — always the same date
        # as ts itself, so the oracle is the plain daily aggregate.
        "daily_spending_rollup": """
        SELECT CAST(user_id AS VARCHAR) AS customer_id,
               CAST(CAST(ts AS DATE) AS TIMESTAMP) AS transaction_date,
               ROUND(SUM(value), 2) AS total_spent
        FROM events GROUP BY 1, 2
        """,
        "daily_spending_direct": """
        SELECT CAST(user_id AS VARCHAR) AS customer_id,
               CAST(CAST(ts AS DATE) AS TIMESTAMP) AS transaction_date,
               ROUND(SUM(value), 2) AS total_spent
        FROM events GROUP BY 1, 2
        """,
        "json_decode_props": """
        SELECT event_type,
               CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
               COUNT(*) AS n_events
        FROM events GROUP BY 1
        """,
        "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(ROUND(SUM(l_quantity), 2) / COUNT(*), 6) AS avg_qty,
               ROUND(ROUND(SUM(l_extendedprice), 2) / COUNT(*), 6) AS avg_price,
               ROUND(ROUND(SUM(l_discount), 2) / COUNT(*), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY 1, 2
        """,
        "text_token_stats": f"""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
               len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS n_regex_tokens,
               length(text) AS n_chars_actual
        FROM documents
        """,
        "text_quality": f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        s AS (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS u,
                     len(list_filter(toks, x -> list_contains({_sql_words(STOPWORDS)}, x))) AS st
              FROM t)
        SELECT doc_id,
               ROUND(st / n, 6) AS stopword_ratio,
               ROUND(0.3 * least(n / 100.0, 1.0) + 0.4 * (u / n)
                     + 0.3 * least(4 * (st / n), 1.0), 6) AS quality_score
        FROM s
        """,
        "text_lang_id": f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        s AS (SELECT doc_id,
                     len(list_filter(toks, x -> list_contains({_sql_words(LANG_MARKERS["en"])}, x))) AS score_en,
                     len(list_filter(toks, x -> list_contains({_sql_words(LANG_MARKERS["es"])}, x))) AS score_es,
                     len(list_filter(toks, x -> list_contains({_sql_words(LANG_MARKERS["de"])}, x))) AS score_de
              FROM t)
        SELECT doc_id, score_en, score_es, score_de,
               CASE WHEN greatest(score_en, score_es, score_de) = 0 THEN 'und'
                    WHEN score_en = greatest(score_en, score_es, score_de) THEN 'en'
                    WHEN score_es = greatest(score_en, score_es, score_de) THEN 'es'
                    ELSE 'de' END AS detected_lang
        FROM s
        """,
        "doc_fingerprints": """
        WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
        SELECT doc_id, md5(text) AS fp_md5,
               CASE WHEN len(toks) >= 3 THEN
                 list_min(list_transform(range(1, len(toks) - 1),
                   i -> md5(array_to_string(toks[i:i+2], ' '))))
               END AS fp_shingle
        FROM t
        """,
        "exact_dedup_docs": """
        SELECT md5(text) AS fp_md5,
               MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY 1
        """,
        "minhash_near_dup": "WITH "
        + _MINHASH_CTES
        + """
        SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard
        FROM pairs WHERE j >= 0.5
        """,
        "customer_order_gaps": """
        SELECT o_custkey, o_orderkey,
               CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
               CAST(date_diff('day',
                    lag(o_orderdate) OVER w, o_orderdate) AS BIGINT)
                 AS days_since_prev,
               CAST(date_diff('day',
                    o_orderdate, lead(o_orderdate) OVER w) AS BIGINT)
                 AS days_until_next
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
        """,
        # same signature CTEs, but candidates are new-batch x corpus
        # (x >= 400 screened against y < 400) — never corpus x corpus
        "incremental_dedup": "WITH "
        + _MINHASH_SIG_CTES
        + """,
        cand AS (SELECT DISTINCT x.doc_id AS new_doc_id,
                        y.doc_id AS dup_of
                 FROM sigs x JOIN sigs y
                   ON x.band = y.band AND x.sig = y.sig
                 WHERE x.doc_id >= 400 AND y.doc_id < 400),
        pairs AS (SELECT new_doc_id, dup_of,
                         len(list_intersect(a.sh, b.sh))
                           / len(list_distinct(list_concat(a.sh, b.sh))) AS j
                  FROM cand
                  JOIN docs a ON a.doc_id = cand.new_doc_id
                  JOIN docs b ON b.doc_id = cand.dup_of)
        SELECT new_doc_id, dup_of, ROUND(j, 6) AS jaccard
        FROM pairs WHERE j >= 0.4
        """,
        "near_dup_groups": "WITH RECURSIVE "
        + _MINHASH_CTES
        + """,
        p AS (SELECT doc_a, doc_b FROM pairs WHERE j >= 0.5),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM p
          UNION
          SELECT doc_b AS src, doc_a AS dst FROM p
        ),
        reach(a, b) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
        )
        SELECT d.doc_id,
               LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS group_id
        FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        GROUP BY d.doc_id
        """,
        "ann_cosine_topk": """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     ROUND(list_dot_product(q.v, c.v)
                           / (sqrt(list_dot_product(q.v, q.v))
                              * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
              FROM e q, e c
              WHERE q.vec_id < 100 AND q.vec_id <> c.vec_id)
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM s QUALIFY rank <= 10
        """,
        "ivf_topk": """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        cent AS (SELECT vec_id AS cell_id, v AS c FROM e WHERE vec_id < 16),
        assign_scored AS (
          SELECT e.vec_id, cent.cell_id,
                 ROUND(list_dot_product(e.v, cent.c)
                       / (sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(cent.c, cent.c))), 6) AS cc,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY ROUND(list_dot_product(e.v, cent.c)
                                       / (sqrt(list_dot_product(e.v, e.v))
                                          * sqrt(list_dot_product(cent.c, cent.c))), 6) DESC,
                                    cent.cell_id) AS rn
          FROM e CROSS JOIN cent
        ),
        assign AS (SELECT vec_id, cell_id FROM assign_scored WHERE rn = 1),
        probes AS (
          SELECT vec_id AS query_id, cell_id
          FROM assign_scored WHERE vec_id < 100 AND rn <= 4
        ),
        cand AS (
          SELECT p.query_id, a.vec_id AS neighbor_id
          FROM probes p JOIN assign a ON a.cell_id = p.cell_id
          WHERE a.vec_id <> p.query_id
        ),
        s AS (
          SELECT c.query_id, c.neighbor_id,
                 ROUND(list_dot_product(q.v, n.v)
                       / (sqrt(list_dot_product(q.v, q.v))
                          * sqrt(list_dot_product(n.v, n.v))), 6) AS cosine
          FROM cand c
          JOIN e q ON q.vec_id = c.query_id
          JOIN e n ON n.vec_id = c.neighbor_id
        )
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM s QUALIFY rank <= 10
        """,
        "lsh_bucket_stats": f"""
        SELECT {_sql_bucket_expr(8, 42)} AS bucket,
               COUNT(*) AS n_vectors
        FROM embeddings GROUP BY 1
        """,
        "embedding_similar_pairs": f"""
        WITH b AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                          {_sql_bucket_expr(4, 42)} AS bucket
                   FROM embeddings),
        p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                     ROUND(list_dot_product(x.v, y.v)
                           / (sqrt(list_dot_product(x.v, x.v))
                              * sqrt(list_dot_product(y.v, y.v))), 6) AS cosine
              FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
        SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.4
        """,
        "embedding_similar_pairs_multitable": f"""
        WITH b AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                          {_sql_bucket_expr(4, 42)} AS b0,
                          {_sql_bucket_expr(4, 42 + 7919)} AS b1
                   FROM embeddings),
        p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                     ROUND(list_dot_product(x.v, y.v)
                           / (sqrt(list_dot_product(x.v, x.v))
                              * sqrt(list_dot_product(y.v, y.v))), 6) AS cosine
              FROM b x JOIN b y ON x.b0 = y.b0 AND x.vec_id < y.vec_id
              UNION
              SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                     ROUND(list_dot_product(x.v, y.v)
                           / (sqrt(list_dot_product(x.v, x.v))
                              * sqrt(list_dot_product(y.v, y.v))), 6) AS cosine
              FROM b x JOIN b y ON x.b1 = y.b1 AND x.vec_id < y.vec_id)
        SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.4
        """,
        "semantic_dedup": """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        cent AS (SELECT vec_id AS cell_id, v AS c FROM e WHERE vec_id < 16),
        a AS (
          SELECT e.vec_id, cent.cell_id,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY ROUND(list_dot_product(e.v, cent.c)
                                       / (sqrt(list_dot_product(e.v, e.v))
                                          * sqrt(list_dot_product(cent.c, cent.c))), 6) DESC,
                                    cent.cell_id) AS rn
          FROM e CROSS JOIN cent),
        b AS (SELECT a.vec_id, a.cell_id, e.v
              FROM a JOIN e USING (vec_id) WHERE a.rn = 1),
        d AS (
          SELECT DISTINCT y.vec_id
          FROM b x JOIN b y ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id
          WHERE ROUND(list_dot_product(x.v, y.v)
                / (sqrt(list_dot_product(x.v, x.v))
                   * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.4)
        SELECT b.vec_id, b.cell_id,
               CAST(d.vec_id IS NULL AS INT) AS kept
        FROM b LEFT JOIN d ON b.vec_id = d.vec_id
        """,
        "quantile_filtered_docs": """
        WITH t AS (
          SELECT lang,
                 quantile_cont(CAST(n_chars AS DOUBLE), 0.4) AS thresh
          FROM documents GROUP BY lang
        )
        SELECT d.doc_id, d.lang, d.n_chars
        FROM documents d JOIN t ON d.lang IS NOT DISTINCT FROM t.lang
        WHERE CAST(d.n_chars AS DOUBLE) >= t.thresh
        """,
        "dup_rate_by_source": "WITH RECURSIVE "
        + _MINHASH_CTES
        + """,
        p AS (SELECT doc_a, doc_b FROM pairs WHERE j >= 0.5),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM p
          UNION
          SELECT doc_b AS src, doc_a AS dst FROM p
        ),
        reach(a, b) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
        ),
        groups AS (
          SELECT d.doc_id,
                 LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS group_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id
        )
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN g.doc_id <> g.group_id
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_members,
               ROUND(AVG(CASE WHEN g.doc_id <> g.group_id
                              THEN CAST(1 AS DOUBLE)
                              ELSE CAST(0 AS DOUBLE) END), 6) AS dup_rate
        FROM documents d JOIN groups g ON g.doc_id = d.doc_id
        GROUP BY d.source
        """,
        "label_centroids": """
        WITH ex AS (
          SELECT label,
                 generate_subscripts(embedding, 1) - 1 AS dim,
                 unnest(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                   AS val
          FROM embeddings
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(dim AS BIGINT) AS dim,
               ROUND(AVG(val), 6) AS centroid_val
        FROM ex GROUP BY label, dim
        """,
        "leakage_safe_split": "WITH RECURSIVE "
        + _MINHASH_CTES
        + """,
        p AS (SELECT doc_a, doc_b FROM pairs WHERE j >= 0.5),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM p
          UNION
          SELECT doc_b AS src, doc_a AS dst FROM p
        ),
        reach(a, b) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
        ),
        groups AS (
          SELECT d.doc_id,
                 LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS group_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id
        ),
        nib AS (
          SELECT doc_id, group_id,
                 CASE WHEN ascii(substr(md5(group_id::VARCHAR), 1, 1)) <= 57
                      THEN ascii(substr(md5(group_id::VARCHAR), 1, 1)) - 48
                      ELSE ascii(substr(md5(group_id::VARCHAR), 1, 1)) - 87
                 END AS n
          FROM groups
        )
        SELECT doc_id, group_id,
               CASE WHEN n < 13 THEN 'train'
                    WHEN n < 15 THEN 'valid'
                    ELSE 'test' END AS split
        FROM nib
        """,
        "corpus_stats": """
        SELECT source, lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_docs,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
               ROUND(AVG(LENGTH(text)), 2) AS avg_chars,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                 AS total_tokens,
               ROUND(AVG(len(string_split(text, ' '))), 2) AS avg_tokens
        FROM documents
        GROUP BY source, lang
        """,
        "diverse_sample": """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        cent AS (SELECT vec_id AS cell_id, v AS c FROM e WHERE vec_id < 16),
        a AS (
          SELECT e.vec_id, cent.cell_id,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY ROUND(list_dot_product(e.v, cent.c)
                                       / (sqrt(list_dot_product(e.v, e.v))
                                          * sqrt(list_dot_product(cent.c, cent.c))), 6) DESC,
                                    cent.cell_id) AS rn
          FROM e CROSS JOIN cent),
        asg AS (SELECT vec_id, cell_id FROM a WHERE rn = 1),
        d AS (SELECT vec_id, cell_id,
                     md5(concat(CAST(cell_id AS VARCHAR), '|',
                                CAST(vec_id AS VARCHAR))) AS draw
              FROM asg),
        r AS (SELECT vec_id, cell_id,
                     row_number() OVER (PARTITION BY cell_id
                                        ORDER BY draw, vec_id) AS draw_rank
              FROM d)
        SELECT vec_id, cell_id, CAST(draw_rank AS BIGINT) AS draw_rank
        FROM r WHERE draw_rank <= 10
        """,
        "incremental_semantic_dedup": """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        cent AS (SELECT vec_id AS cell_id, v AS c FROM e WHERE vec_id < 16),
        a AS (
          SELECT e.vec_id, cent.cell_id,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY ROUND(list_dot_product(e.v, cent.c)
                                       / (sqrt(list_dot_product(e.v, e.v))
                                          * sqrt(list_dot_product(cent.c, cent.c))), 6) DESC,
                                    cent.cell_id) AS rn
          FROM e CROSS JOIN cent),
        asg AS (SELECT a.vec_id, a.cell_id, e.v
                FROM a JOIN e USING (vec_id) WHERE a.rn = 1),
        b AS (SELECT * FROM asg WHERE vec_id >= 400),
        c AS (SELECT * FROM asg WHERE vec_id < 400),
        d AS (
          SELECT DISTINCT y.vec_id
          FROM b y JOIN c x ON x.cell_id = y.cell_id
          WHERE ROUND(list_dot_product(x.v, y.v)
                / (sqrt(list_dot_product(x.v, x.v))
                   * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.4
          UNION
          SELECT DISTINCT y.vec_id
          FROM b y JOIN b x ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id
          WHERE ROUND(list_dot_product(x.v, y.v)
                / (sqrt(list_dot_product(x.v, x.v))
                   * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.4)
        SELECT b.vec_id, b.cell_id,
               CAST(d.vec_id IS NULL AS INT) AS kept
        FROM b LEFT JOIN d ON b.vec_id = d.vec_id
        """,
        "semantic_dedup_multiprobe": """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        cent AS (SELECT vec_id AS cell_id, v AS c FROM e WHERE vec_id < 16),
        a AS (
          SELECT e.vec_id, cent.cell_id,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY ROUND(list_dot_product(e.v, cent.c)
                                       / (sqrt(list_dot_product(e.v, e.v))
                                          * sqrt(list_dot_product(cent.c, cent.c))), 6) DESC,
                                    cent.cell_id) AS rn
          FROM e CROSS JOIN cent),
        probes AS (SELECT a.vec_id, a.cell_id, a.rn, e.v
                   FROM a JOIN e USING (vec_id) WHERE a.rn <= 2),
        b AS (SELECT vec_id, cell_id FROM probes WHERE rn = 1),
        d AS (
          SELECT DISTINCT y.vec_id
          FROM probes x JOIN probes y
            ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id
          WHERE ROUND(list_dot_product(x.v, y.v)
                / (sqrt(list_dot_product(x.v, x.v))
                   * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.4)
        SELECT b.vec_id, b.cell_id,
               CAST(d.vec_id IS NULL AS INT) AS kept
        FROM b LEFT JOIN d ON b.vec_id = d.vec_id
        """,
        "revenue_by_nation": """
        SELECT n.n_name,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY 1
        """,
        "top_customers": """
        WITH spend AS (
          SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total_spent
          FROM orders GROUP BY 1
        )
        SELECT s.o_custkey AS custkey, c.c_name, c.c_mktsegment,
               s.total_spent,
               row_number() OVER (ORDER BY s.total_spent DESC, s.o_custkey) AS rank
        FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
        QUALIFY rank <= 10
        """,
        "monthly_order_stats": """
        WITH monthly AS (
          SELECT o_orderstatus,
                 date_trunc('month', o_orderdate) AS month,
                 ROUND(SUM(o_totalprice), 2) AS revenue,
                 COUNT(*) AS n_orders
          FROM orders GROUP BY 1, 2
        )
        SELECT o_orderstatus, month, revenue, n_orders,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY revenue DESC, month) AS revenue_rank,
               ROUND(SUM(revenue) OVER (PARTITION BY o_orderstatus ORDER BY month
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW), 2) AS running_revenue
        FROM monthly
        """,
        "order_priority_rollup": """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_value
        FROM orders
        GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        """,
        "parts_without_bulk": """
        SELECT p_partkey, p_name, p_type
        FROM part p
        WHERE NOT EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 49.0
        )
        """,
        "customer_order_stats": """
        SELECT c.c_custkey, c.c_mktsegment,
               COUNT(*) AS n_orders,
               ROUND(ROUND(SUM(o.o_totalprice), 2) / COUNT(*), 6) AS avg_order_value
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
        """,
        "simhash_fingerprints": _SIMHASH_NIBS
        + f"""
        SELECT doc_id, {_sql_simhash_expr()} AS simhash FROM t
        """,
        "simhash_near_dup": _SIMHASH_NIBS
        + f""",
        f AS (SELECT doc_id, {_sql_simhash_expr()} AS fp FROM t),
        bands AS (
          SELECT doc_id, fp, band,
                 substr(fp, CAST(band * 16 + 1 AS INTEGER), 16) AS chunk
          FROM f, (SELECT unnest(range(0, 4)) AS band)
        ),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.chunk = y.chunk
           AND x.doc_id < y.doc_id
        ),
        p AS (
          SELECT doc_a, doc_b,
                 list_sum(list_transform(range(1, 65), i ->
                   CASE WHEN substr(a.fp, CAST(i AS INTEGER), 1)
                             = substr(b.fp, CAST(i AS INTEGER), 1)
                        THEN 0 ELSE 1 END)) AS hamming
          FROM cand
          JOIN f a ON a.doc_id = cand.doc_a
          JOIN f b ON b.doc_id = cand.doc_b
        )
        SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
        FROM p WHERE hamming <= 3
        """,
        "ngram_jaccard_pairs": """
        WITH docs AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')
                 )) AS sh
          FROM documents WHERE len(string_split(text, ' ')) >= 3
        ),
        inv AS (SELECT doc_id, unnest(sh) AS s FROM docs),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id
        ),
        pairs AS (
          SELECT doc_a, doc_b,
                 len(list_intersect(a.sh, b.sh))
                   / len(list_distinct(list_concat(a.sh, b.sh))) AS j
          FROM cand
          JOIN docs a ON a.doc_id = cand.doc_a
          JOIN docs b ON b.doc_id = cand.doc_b
        )
        SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard
        FROM pairs WHERE j >= 0.6
        """,
        "user_sessions": """
        WITH o AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        s AS (
          SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM o
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM s GROUP BY user_id, sid
        """,
        "session_stats": """
        WITH o AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        s AS (
          SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM o
        ),
        sess AS (
          SELECT user_id,
                 epoch_us(MAX(ts) + INTERVAL 30 MINUTE)
                   - epoch_us(MIN(ts)) AS dur_us,
                 COUNT(*) AS n_events
          FROM s GROUP BY user_id, sid
        )
        SELECT user_id,
               COUNT(*) AS n_sessions,
               ROUND((SUM(dur_us) / COUNT(*)) / 1e6, 6) AS avg_session_secs,
               CAST(SUM(n_events) AS BIGINT) AS total_events
        FROM sess GROUP BY user_id
        """,
        "daily_active_users": """
        SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
               COUNT(DISTINCT user_id) AS active_users,
               COUNT(*) AS n_events
        FROM events GROUP BY 1
        """,
        "split_assignment": """
        WITH s AS (
          SELECT n_chars,
                 CASE WHEN (CASE WHEN ascii(substr(md5(doc_id::VARCHAR), 1, 1)) <= 57
                                 THEN ascii(substr(md5(doc_id::VARCHAR), 1, 1)) - 48
                                 ELSE ascii(substr(md5(doc_id::VARCHAR), 1, 1)) - 87 END) < 13
                        THEN 'train'
                      WHEN (CASE WHEN ascii(substr(md5(doc_id::VARCHAR), 1, 1)) <= 57
                                 THEN ascii(substr(md5(doc_id::VARCHAR), 1, 1)) - 48
                                 ELSE ascii(substr(md5(doc_id::VARCHAR), 1, 1)) - 87 END) < 15
                        THEN 'valid'
                      ELSE 'test' END AS split
          FROM documents
        )
        SELECT split, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM s GROUP BY 1
        """,
        "deterministic_sample": """
        SELECT doc_id, lang, source
        FROM documents
        WHERE (CASE WHEN ascii(substr(md5(doc_id::VARCHAR), 1, 1)) <= 57
                    THEN ascii(substr(md5(doc_id::VARCHAR), 1, 1)) - 48
                    ELSE ascii(substr(md5(doc_id::VARCHAR), 1, 1)) - 87 END) < 2
        """,
        "stratified_sample": """
        SELECT doc_id, lang
        FROM documents
        WHERE (CASE WHEN ascii(substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 1)) <= 57
                    THEN ascii(substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 1)) - 48
                    ELSE ascii(substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 1)) - 87 END) < 2
        """,
        "mixture_sample": """
        WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        w AS (SELECT lang, power(CAST(n AS DOUBLE), -0.5) AS wt FROM counts),
        r AS (SELECT lang, ROUND(wt / (SELECT max(wt) FROM w), 6) AS rate FROM w),
        keyed AS (
          SELECT d.doc_id, d.lang, r.rate,
                 md5(d.lang || '|' || CAST(d.doc_id AS VARCHAR)) AS h
          FROM documents d JOIN r ON d.lang = r.lang
        )
        SELECT doc_id, lang FROM keyed
        WHERE (CASE WHEN ascii(substr(h, 1, 1)) <= 57
                    THEN ascii(substr(h, 1, 1)) - 48
                    ELSE ascii(substr(h, 1, 1)) - 87 END) * 16
              + (CASE WHEN ascii(substr(h, 2, 1)) <= 57
                      THEN ascii(substr(h, 2, 1)) - 48
                      ELSE ascii(substr(h, 2, 1)) - 87 END)
              < floor(256 * rate)
        """,
        "multi_grain_rollup": """
        SELECT date_trunc('day', ts)  AS day,
               date_trunc('hour', ts) AS hour,
               CAST(grouping(date_trunc('hour', ts)) AS BIGINT) AS is_day_grain,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY GROUPING SETS (
          (date_trunc('day', ts)),
          (date_trunc('day', ts), date_trunc('hour', ts))
        )
        """,
        "quantity_quantiles": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
               ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
               ROUND(MIN(l_quantity), 2) AS min_qty,
               ROUND(MAX(l_quantity), 2) AS max_qty
        FROM lineitem GROUP BY 1
        """,
        "value_histogram": """
        SELECT CAST(floor(value / 10) AS BIGINT) AS bucket,
               COUNT(*) AS n,
               ROUND(SUM(value), 2) AS bucket_value
        FROM events GROUP BY 1
        """,
        "top_tokens": """
        WITH c AS (
          SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ),
        g AS (SELECT token, COUNT(*) AS n FROM c GROUP BY 1)
        SELECT token, n,
               row_number() OVER (ORDER BY n DESC, token) AS rank
        FROM g QUALIFY rank <= 20
        """,
        # salted_sum is salt-invariant: the oracle is the plain sum
        "skewed_event_totals": """
        SELECT event_type, ROUND(SUM(value), 2) AS total_value
        FROM events GROUP BY 1
        """,
        "latest_event_per_user": """
        SELECT user_id, event_id, ts, event_type,
               ROUND(value, 2) AS value
        FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) = 1
        """,
        "tf_idf": """
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents
        ),
        counts AS (
          SELECT doc_id, token, COUNT(*) AS tf_count
          FROM toks GROUP BY 1, 2
        ),
        dl AS (SELECT doc_id, CAST(SUM(tf_count) AS BIGINT) AS n_tokens
               FROM counts GROUP BY 1),
        dfreq AS (SELECT token, COUNT(*) AS doc_freq
                  FROM counts GROUP BY 1),
        total AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
        SELECT c.doc_id, c.token,
               ROUND(c.tf_count / dl.n_tokens, 6) AS tf,
               dfreq.doc_freq,
               ROUND(ln(total.n_docs / dfreq.doc_freq), 6) AS idf,
               ROUND((c.tf_count / dl.n_tokens)
                     * ln(total.n_docs / dfreq.doc_freq), 6) AS tf_idf
        FROM counts c
        JOIN dl USING (doc_id)
        JOIN dfreq USING (token)
        CROSS JOIN total
        """,
        "order_status_pivot": """
        SELECT o_orderpriority,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
               COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
               COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        FROM orders GROUP BY 1
        """,
        "lapsed_customers": """
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        EXCEPT
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        """,
        "purchase_attribution": """
        WITH p AS (
          SELECT user_id, event_id, ts, value
          FROM events WHERE event_type = 'purchase'
        ),
        c AS (
          SELECT user_id, ts AS click_ts
          FROM events WHERE event_type = 'click'
        )
        SELECT p.event_id, p.user_id, p.ts,
               c.click_ts AS last_click_ts,
               epoch_us(p.ts) - epoch_us(c.click_ts) AS wait_us,
               ROUND(p.value, 2) AS value
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts >= c.click_ts
        """,
        "attribution_windowed": """
        WITH p AS (
          SELECT user_id, event_id, ts
          FROM events WHERE event_type = 'purchase'
        ),
        c AS (
          SELECT user_id, ts AS click_ts
          FROM events WHERE event_type = 'click'
        )
        SELECT p.event_id, p.user_id, p.ts,
               CASE WHEN epoch_us(p.ts) - epoch_us(c.click_ts)
                         <= CAST(21600 AS BIGINT) * 1000000
                    THEN c.click_ts END AS recent_click_ts
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts >= c.click_ts
        """,
        # DuckDB ASOF is backward-only; the forward oracle is a
        # per-purchase MIN over qualifying clicks (fine at sf0.01)
        "next_event_after_purchase": """
        WITH p AS (
          SELECT user_id, event_id, ts
          FROM events WHERE event_type = 'purchase'
        ),
        c AS (
          SELECT user_id, ts AS click_ts
          FROM events WHERE event_type = 'click'
        )
        SELECT p.event_id, p.user_id, p.ts,
               (SELECT MIN(c.click_ts) FROM c
                WHERE c.user_id = p.user_id AND c.click_ts >= p.ts)
                 AS next_click_ts
        FROM p
        """,
        "repetition_stats": """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        g AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 3 THEN
                   list_transform(range(1, len(toks) - 1),
                     i -> array_to_string(toks[i:i+2], ' '))
                 END AS grams
          FROM t
        )
        SELECT doc_id,
               CAST(len(grams) AS BIGINT) AS n_grams,
               CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams,
               ROUND(1 - len(list_distinct(grams)) / len(grams), 6)
                 AS repetition_ratio
        FROM g
        """,
        "benchmark_overlap": """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        g AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> array_to_string(toks[i:i+2], ' '))) AS grams
          FROM t WHERE len(toks) >= 3
        ),
        e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        b AS (SELECT DISTINCT gram FROM e WHERE doc_id < 5),
        hits AS (SELECT e.doc_id, COUNT(*) AS n_overlap
                 FROM e JOIN b USING (gram) GROUP BY 1)
        SELECT d.doc_id,
               CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
               COALESCE(h.n_overlap, 0) >= 1 AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        # patterns injected from operators.text.PII_PATTERNS so Spark
        # and oracle can never drift; counts taken on the pre-redaction
        # text in both engines
        "redact_pii": f"""
        WITH s AS (
          SELECT doc_id,
                 text || ' contact: user' || CAST(doc_id AS VARCHAR)
                      || '@example.com tel 555-0199 ip 10.0.0.'
                      || CAST(doc_id % 256 AS VARCHAR) AS t
          FROM documents
        )
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(t,
                 '{PII_PATTERNS["email"]}', '<EMAIL>', 'g'),
                 '{PII_PATTERNS["ip"]}', '<IP>', 'g'),
                 '{PII_PATTERNS["phone"]}', '<PHONE>', 'g') AS redacted,
               CAST(len(regexp_extract_all(t, '{PII_PATTERNS["email"]}'))
                    AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t, '{PII_PATTERNS["ip"]}'))
                    AS BIGINT) AS n_ips,
               CAST(len(regexp_extract_all(t, '{PII_PATTERNS["phone"]}'))
                    AS BIGINT) AS n_phones
        FROM s
        """,
        # the 16-bin byte histogram over the same closed-form body:
        # bin(x) = x*16 // 256, share = bin count / body length —
        # exact integer counts, identical double division
        "multimodal_features": """
        WITH m AS (SELECT unnest(range(0, 256)) AS i),
        d AS (
          SELECT i,
                 least((8 + (i % 5) * 4) * (8 + (i % 7) * 2)
                       * (CASE WHEN i % 3 = 0 THEN 3 ELSE 1 END),
                       4096) AS n
          FROM m
        ),
        body AS (
          SELECT i, n,
                 list_transform(range(0, n),
                                j -> (i * 31 + j * 7) % 256) AS bytes
          FROM d
        ),
        bins AS (SELECT unnest(range(0, 16)) AS bin)
        SELECT body.i AS media_id,
               bins.bin,
               ROUND(len(list_filter(body.bytes,
                     x -> CAST(floor(x * 16 / 256) AS BIGINT) = bins.bin))
                     / body.n, 6) AS share
        FROM body CROSS JOIN bins
        """,
        # chunk starts are exact stride multiples, so chunk_index =
        # start // stride; DuckDB 1-based inclusive list slicing
        # toks[s+1 : s+32] == Spark slice(toks, s+1, 32)
        "doc_chunks": """
        WITH t AS (
          SELECT doc_id, string_split_regex(text, '\\s+') AS toks
          FROM documents
        ),
        s AS (
          SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
        ),
        e AS (
          SELECT doc_id, toks,
                 unnest(generate_series(0, n - 1, 24)) AS start
          FROM s
        )
        SELECT doc_id,
               CAST(start // 24 AS BIGINT) AS chunk_index,
               CAST(start AS BIGINT) AS token_start,
               CAST(len(toks[start + 1 : start + 32]) AS BIGINT) AS n_tokens,
               array_to_string(toks[start + 1 : start + 32], ' ')
                 AS chunk_text
        FROM e
        """,
        # the md5 epoch hash, its first-byte shard, and the per-shard
        # running token total are all engine-portable arithmetic —
        # ascii('0'..'9')-48 / ascii('a'..'f')-87 decodes hex digits
        # identically in both engines
        "packed_sequences": """
        WITH t AS (
          SELECT doc_id,
                 len(string_split_regex(text, '\\s+')) AS n_tokens,
                 md5(CAST(doc_id AS VARCHAR) || ':42') AS h
          FROM documents
        ),
        hx AS (
          SELECT *,
                 CASE WHEN ascii(substr(h, 1, 1)) <= 57
                      THEN ascii(substr(h, 1, 1)) - 48
                      ELSE ascii(substr(h, 1, 1)) - 87 END AS d1,
                 CASE WHEN ascii(substr(h, 2, 1)) <= 57
                      THEN ascii(substr(h, 2, 1)) - 48
                      ELSE ascii(substr(h, 2, 1)) - 87 END AS d2
          FROM t
        ),
        s AS (
          SELECT doc_id, n_tokens, h,
                 CAST((d1 * 16 + d2) % 16 AS BIGINT) AS shard
          FROM hx
        ),
        r AS (
          SELECT doc_id, shard,
                 CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(row_number() OVER
                      (PARTITION BY shard ORDER BY h, doc_id)
                      AS BIGINT) AS pos_in_shard,
                 SUM(n_tokens) OVER
                   (PARTITION BY shard ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
          FROM s
        )
        SELECT doc_id, shard, pos_in_shard, n_tokens,
               CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_index,
               CAST((cum - n_tokens) % 256 AS BIGINT) AS seq_offset
        FROM r
        """,
        "top_customers_per_nation": """
        WITH spend AS (
          SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total_spent
          FROM orders GROUP BY 1
        )
        SELECT n.n_name, c.c_custkey AS custkey, s.total_spent,
               CAST(row_number() OVER
                    (PARTITION BY n.n_name
                     ORDER BY s.total_spent DESC, c.c_custkey)
                    AS BIGINT) AS rank
        FROM spend s
        JOIN customer c ON s.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        QUALIFY rank <= 3
        """,
        # frame fi of media i spans body bytes [fi*w*h, (fi+1)*w*h);
        # every-2nd-frame sampling keeps fi in {0} for stills (nf=1)
        # and {0, 2} for videos (nf=3)
        "multimodal_frame_stats": """
        WITH m AS (SELECT unnest(range(0, 256)) AS i),
        d AS (
          SELECT i,
                 8 + (i % 5) * 4 AS w,
                 8 + (i % 7) * 2 AS h,
                 CASE WHEN i % 3 = 0 THEN 3 ELSE 1 END AS nf
          FROM m
        ),
        f AS (
          SELECT i, w, h, unnest(range(0, nf, 2)) AS fi FROM d
        )
        SELECT i AS media_id,
               CAST(fi AS BIGINT) AS frame_index,
               ROUND(list_avg(list_transform(
                 range(fi * w * h, (fi + 1) * w * h),
                 j -> (i * 31 + j * 7) % 256)), 6) AS frame_mean
        FROM f
        """,
        # nearest-neighbor remap: output pixel (y, x) of the 4x4 grid
        # reads source index (y*h//4)*w + (x*w//4) of frame 0, whose
        # byte is the closed-form (i*31 + idx*7) % 256
        "multimodal_resize": """
        WITH m AS (SELECT unnest(range(0, 256)) AS i),
        d AS (SELECT i, 8 + (i % 5) * 4 AS w, 8 + (i % 7) * 2 AS h
              FROM m),
        p AS (SELECT unnest(range(0, 16)) AS pos)
        SELECT d.i AS media_id,
               p.pos AS pos,
               CAST((d.i * 31 +
                     (((p.pos // 4) * d.h // 4) * d.w
                      + ((p.pos % 4) * d.w // 4)) * 7) % 256
                    AS BIGINT) AS value
        FROM d CROSS JOIN p
        """,
        # mirrors operators/multimodal.py's synthetic payload in closed
        # form: body byte j of media i is (i*31 + j*7) % 256, body
        # length min(w*h*frames, 4096); integer sums are exact in both
        # engines, so the double division + 6-dp round hash-match
        "multimodal_decode": """
        WITH m AS (SELECT unnest(range(0, 256)) AS i),
        d AS (
          SELECT i,
                 CASE WHEN i % 3 = 0 THEN 'video' ELSE 'image' END AS kind,
                 8 + (i % 5) * 4 AS w,
                 8 + (i % 7) * 2 AS h,
                 CASE WHEN i % 3 = 0 THEN 3 ELSE 1 END AS nf
          FROM m
        )
        SELECT i AS media_id, kind,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(nf AS BIGINT) AS n_frames,
               ROUND(list_avg(list_transform(
                 range(0, least(w * h * nf, 4096)),
                 j -> (i * 31 + j * 7) % 256)), 6) AS mean_intensity
        FROM d
        """,
        "purchase_prior_activity": """
        WITH p AS (
          SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
          FROM events WHERE event_type = 'purchase'
        )
        SELECT p.purchase_id, p.user_id, p.purchase_ts,
               CAST(COUNT(*) AS BIGINT) AS n_prior,
               ROUND(SUM(e.value), 2) AS prior_value
        FROM p JOIN events e
          ON e.user_id = p.user_id
         AND e.ts >= p.purchase_ts - INTERVAL 24 HOURS
         AND e.ts < p.purchase_ts
        GROUP BY 1, 2, 3
        """,
        # integer-cents rolling sum: accumulation-order independent,
        # so Spark's sliding frame and DuckDB's segment tree agree
        "rolling_customer_spend": """
        SELECT o_custkey, o_orderkey, o_orderdate,
               ROUND(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                       OVER w / 100.0, 2) AS rolling_spend,
               COUNT(*) OVER w AS rolling_orders
        FROM orders
        WINDOW w AS (
          PARTITION BY o_custkey
          ORDER BY date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE))
          RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)
        """,
        # both sums rounded to cents BEFORE the share division so the
        # ratio divides engine-identical values
        "promo_revenue_share": """
        WITH monthly AS (
          SELECT date_trunc('month', l_shipdate) AS ship_month,
                 ROUND(SUM(CASE WHEN p_type = 'PROMO'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0 END), 2) AS promo_revenue,
                 ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                   AS total_revenue
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY 1
        )
        SELECT ship_month, promo_revenue, total_revenue,
               ROUND(100 * promo_revenue / total_revenue, 6)
                 AS promo_share_pct
        FROM monthly
        """,
        "large_orders": """
        WITH qty AS (
          SELECT l_orderkey, SUM(l_quantity) AS total_qty
          FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 250
        )
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
               ROUND(total_qty, 2) AS total_qty
        FROM orders
        JOIN qty ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        """,
        "scd2_user_state": """
        WITH ordered AS (
          SELECT user_id, ts, event_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events
        ),
        changes AS (
          -- row_number()=1 (true first row) OR null-safe inequality,
          -- mirroring the operator's eqNullSafe change detection
          SELECT user_id, ts, event_id, event_type
          FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS rn
                FROM ordered)
          WHERE rn = 1 OR prev IS DISTINCT FROM event_type
        )
        SELECT user_id, event_type AS state, ts AS valid_from,
               lead(ts) OVER w AS valid_to,
               CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END
                 AS is_current,
               row_number() OVER w AS version
        FROM changes
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        # md5-byte draw vs floor-scaled weight, mirrored nibble-by-
        # nibble (ascii arithmetic, same family as the simhash oracle)
        "weighted_sample": """
        WITH keyed AS (
          SELECT l_orderkey, l_linenumber, l_quantity,
                 md5(CAST(l_orderkey AS VARCHAR) || '-'
                     || CAST(l_linenumber AS VARCHAR)) AS h
          FROM lineitem
        ),
        drawn AS (
          SELECT l_orderkey, l_linenumber, l_quantity,
                 (CASE WHEN ascii(substr(h, 1, 1)) <= 57
                       THEN ascii(substr(h, 1, 1)) - 48
                       ELSE ascii(substr(h, 1, 1)) - 87 END) * 16
                 + (CASE WHEN ascii(substr(h, 2, 1)) <= 57
                         THEN ascii(substr(h, 2, 1)) - 48
                         ELSE ascii(substr(h, 2, 1)) - 87 END) AS b
          FROM keyed
        )
        SELECT l_orderkey, l_linenumber,
               ROUND(l_quantity, 2) AS l_quantity
        FROM drawn WHERE b < floor(256 * l_quantity / 50.0)
        """,
        # per-token log-probs quantized to integer micro-nats before
        # the per-doc sum: integer sums are order-independent
        "unigram_lm_score": """
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents
        ),
        vocab AS (SELECT token, COUNT(*) AS n_tok FROM toks GROUP BY 1),
        total AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n_total FROM vocab),
        scored AS (
          SELECT t.doc_id,
                 CAST(round(ln(v.n_tok / total.n_total) * 1000000)
                      AS BIGINT) AS lp
          FROM toks t JOIN vocab v USING (token) CROSS JOIN total
        )
        SELECT doc_id, COUNT(*) AS n_tokens,
               ROUND(CAST(SUM(lp) AS BIGINT)
                     / (1000000 * COUNT(*)), 6) AS avg_logprob
        FROM scored GROUP BY 1
        """,
        # every float input is an exact integer count and the
        # expression tree is written identically on both engines
        "bigram_pmi": """
        WITH docs AS (
          SELECT string_split(text, ' ') AS toks FROM documents
        ),
        pl AS (
          SELECT list_transform(range(1, len(toks)),
                   i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))
                 AS ps
          FROM docs
        ),
        pairs AS (SELECT unnest(ps, recursive := true) FROM pl),
        bigrams AS (
          SELECT w1, w2, COUNT(*) AS pair_count
          FROM pairs GROUP BY 1, 2
        ),
        unigrams AS (
          SELECT unnest(toks) AS token FROM docs
        ),
        uc AS (SELECT token, COUNT(*) AS n_tok FROM unigrams GROUP BY 1),
        nb AS (SELECT CAST(SUM(pair_count) AS BIGINT) AS n_bigrams
               FROM bigrams),
        nu AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n_unigrams FROM uc)
        SELECT b.w1, b.w2, b.pair_count,
               ROUND(ln((b.pair_count / nb.n_bigrams)
                        / ((u1.n_tok / nu.n_unigrams)
                           * (u2.n_tok / nu.n_unigrams))), 6) AS pmi
        FROM bigrams b
        JOIN uc u1 ON b.w1 = u1.token
        JOIN uc u2 ON b.w2 = u2.token
        CROSS JOIN nb CROSS JOIN nu
        WHERE b.pair_count >= 5
        """,
        # LOCF copies cent-rounded (engine-identical) day totals;
        # generate_series == Spark's sequence for the spine
        "gap_filled_daily": """
        WITH daily AS (
          SELECT user_id AS k, date_trunc('day', ts) AS day,
                 ROUND(SUM(value), 2) AS day_value
          FROM events GROUP BY 1, 2
        ),
        spans AS (SELECT k, MIN(day) AS lo, MAX(day) AS hi
                  FROM daily GROUP BY 1),
        spine AS (
          SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
          FROM spans
        ),
        j AS (
          SELECT s.k, s.day, daily.day_value
          FROM spine s LEFT JOIN daily USING (k, day)
        )
        SELECT k AS user_id, day, day_value,
               last_value(day_value IGNORE NULLS)
                 OVER (PARTITION BY k ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS value_filled,
               CASE WHEN day_value IS NULL THEN 1 ELSE 0 END AS was_filled
        FROM j
        """,
        # mean/std divide cent-rounded sums -> identical cutoff on
        # every engine; |z| = threshold rows cannot flicker
        "value_outliers": """
        WITH s AS (
          SELECT event_type, COUNT(*) AS n,
                 ROUND(SUM(value), 2) AS sv,
                 ROUND(SUM(value * value), 2) AS sv2
          FROM events GROUP BY 1
        )
        SELECT event_id, user_id, event_type,
               ROUND(value, 2) AS value,
               ROUND((value - sv / n)
                     / sqrt(sv2 / n - (sv / n) * (sv / n)), 6) AS zscore
        FROM events JOIN s USING (event_type)
        WHERE abs((value - sv / n)
                  / sqrt(sv2 / n - (sv / n) * (sv / n))) > 2
        """,
        "purchase_state_pit": """
        WITH ordered AS (
          SELECT user_id, ts, event_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events WHERE event_type <> 'purchase'
        ),
        changes AS (
          SELECT user_id, ts, event_id, event_type
          FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS rn
                FROM ordered)
          WHERE rn = 1 OR prev IS DISTINCT FROM event_type
        ),
        hist AS (
          SELECT user_id, event_type AS state, ts AS valid_from,
                 lead(ts) OVER w AS valid_to,
                 row_number() OVER w AS version
          FROM changes
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        h AS (SELECT * FROM hist
              WHERE valid_to IS NULL OR valid_to > valid_from),
        p AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase')
        SELECT p.event_id, p.user_id, p.ts, h.state,
               CAST(h.version AS BIGINT) AS version
        FROM p LEFT JOIN h
          ON p.user_id = h.user_id
         AND h.valid_from <= p.ts
         AND (h.valid_to IS NULL OR h.valid_to > p.ts)
        """,
        "sample_k_per_source": """
        WITH d AS (
          SELECT doc_id, source,
                 md5(concat(CAST(source AS VARCHAR), '|',
                            CAST(doc_id AS VARCHAR))) AS draw
          FROM documents
        ),
        r AS (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY draw, doc_id) AS draw_rank
          FROM d
        )
        SELECT doc_id, source, CAST(draw_rank AS BIGINT) AS draw_rank
        FROM r WHERE draw_rank <= 20
        """,
        # count-min is DETERMINISTIC given the md5 hash family — the
        # sketch build, the per-key minima, and the heavy-hitter
        # filter all mirror exactly (unlike the HLL/KLL gates)
        "cms_heavy_hitters": f"""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ),
        hx AS (
          SELECT token, d,
                 md5(concat(CAST(d AS VARCHAR), '|', COALESCE(token, chr(0)))) AS h
          FROM toks CROSS JOIN range(0, 4) r(d)
        ),
        bk AS (SELECT token, d, ({_sql_hex8('h')}) % 256 AS bucket FROM hx),
        sketch AS (
          SELECT d, bucket, COUNT(*) AS cnt FROM bk GROUP BY d, bucket
        ),
        keys AS (SELECT DISTINCT token FROM toks),
        kh AS (
          SELECT token, d,
                 md5(concat(CAST(d AS VARCHAR), '|', COALESCE(token, chr(0)))) AS h
          FROM keys CROSS JOIN range(0, 4) r(d)
        ),
        kb AS (SELECT token, d, ({_sql_hex8('h')}) % 256 AS bucket FROM kh),
        est AS (
          SELECT kb.token, MIN(COALESCE(sketch.cnt, 0)) AS est_count
          FROM kb LEFT JOIN sketch
            ON sketch.d = kb.d AND sketch.bucket = kb.bucket
          GROUP BY kb.token
        )
        SELECT token, CAST(est_count AS BIGINT) AS est_count
        FROM est WHERE est_count >= 500
        """,
        # first-occurrence election = lexicographic min over
        # (doc_id, chunk_index), mirroring the engine's struct-min
        # (no packed-long range limit)
        "chunk_dedup_docs": """
        WITH t AS (
          SELECT doc_id, string_split_regex(text, '\\s+') AS toks
          FROM documents
        ),
        s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        e AS (
          SELECT doc_id, toks,
                 unnest(generate_series(0, n - 1, 8)) AS start
          FROM s
        ),
        c AS (
          SELECT doc_id, CAST(start // 8 AS BIGINT) AS chunk_index,
                 array_to_string(toks[start + 1 : start + 8], ' ')
                   AS chunk_text
          FROM e
        ),
        k AS (SELECT doc_id, chunk_index, chunk_text,
                     ROW_NUMBER() OVER (
                       PARTITION BY chunk_text
                       ORDER BY doc_id, chunk_index
                     ) AS rn FROM c),
        kept AS (
          SELECT doc_id, chunk_index, chunk_text FROM k WHERE rn = 1
        ),
        reb AS (
          SELECT doc_id,
                 string_agg(chunk_text, ' ' ORDER BY chunk_index)
                   AS clean_text,
                 COUNT(*) AS n_kept
          FROM kept GROUP BY doc_id
        ),
        tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM c GROUP BY doc_id)
        SELECT tot.doc_id,
               COALESCE(reb.clean_text, '') AS clean_text,
               CAST(tot.n_chunks AS BIGINT) AS n_chunks,
               CAST(tot.n_chunks - COALESCE(reb.n_kept, 0) AS BIGINT)
                 AS n_dropped
        FROM tot LEFT JOIN reb ON tot.doc_id = reb.doc_id
        """,
        "canonical_docs": "WITH RECURSIVE "
        + _MINHASH_CTES
        + """,
        p AS (SELECT doc_a, doc_b FROM pairs WHERE j >= 0.5),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM p
          UNION
          SELECT doc_b AS src, doc_a AS dst FROM p
        ),
        reach(a, b) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
        ),
        groups AS (
          SELECT d.doc_id,
                 LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS group_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id
        ),
        scored AS (
          SELECT g.doc_id, g.group_id, d.n_chars
          FROM groups g JOIN documents d ON g.doc_id = d.doc_id
        ),
        rk AS (
          SELECT doc_id, group_id,
                 row_number() OVER (PARTITION BY group_id
                                    ORDER BY n_chars DESC, doc_id) AS rn
          FROM scored
        ),
        canon AS (SELECT group_id, doc_id AS canonical_id
                  FROM rk WHERE rn = 1)
        SELECT s.doc_id, s.group_id, c.canonical_id,
               CASE WHEN s.doc_id = c.canonical_id THEN 1 ELSE 0 END AS keep
        FROM scored s JOIN canon c ON s.group_id = c.group_id
        """,
        "cohort_retention": """
        WITH first AS (
          SELECT o_custkey,
                 MIN(date_trunc('month', o_orderdate)) AS cohort_d
          FROM orders GROUP BY o_custkey
        ),
        act AS (
          SELECT DISTINCT o_custkey,
                 date_trunc('month', o_orderdate) AS active_d
          FROM orders
        ),
        j AS (
          SELECT a.o_custkey, f.cohort_d,
                 date_diff('month', f.cohort_d, a.active_d) AS months_since
          FROM act a JOIN first f USING (o_custkey)
        ),
        sizes AS (SELECT cohort_d, COUNT(*) AS cohort_size
                  FROM first GROUP BY cohort_d),
        ret AS (SELECT cohort_d, months_since,
                       COUNT(*) AS active_customers
                FROM j GROUP BY cohort_d, months_since)
        SELECT CAST(ret.cohort_d AS TIMESTAMP) AS cohort_month,
               CAST(ret.months_since AS BIGINT) AS months_since,
               CAST(ret.active_customers AS BIGINT) AS active_customers,
               CAST(sizes.cohort_size AS BIGINT) AS cohort_size,
               ROUND(ret.active_customers
                     / CAST(sizes.cohort_size AS DOUBLE), 6)
                 AS retention_rate
        FROM ret JOIN sizes ON ret.cohort_d = sizes.cohort_d
        """,
        # exact moment sums (cents, month index) as BIGINT, then one
        # double division each: the same doubles Spark computes
        "customer_trend": """
        WITH monthly AS (
          SELECT o_custkey,
                 CAST(date_diff('month', DATE '1992-01-01',
                      date_trunc('month', o_orderdate)) AS BIGINT) AS x,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS y
          FROM orders GROUP BY 1, 2
        ),
        per AS (
          SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx
          FROM monthly GROUP BY o_custkey
        )
        SELECT o_custkey, n AS n_months,
               CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST((n * sxx - sx * sx) * 100 AS DOUBLE) AS slope,
               CAST(sy * sxx - sx * sxy AS DOUBLE)
                 / CAST((n * sxx - sx * sx) * 100 AS DOUBLE) AS intercept
        FROM per WHERE n >= 3
        """,
        "quantized_embeddings": "WITH "
        + _QUANT_CTES
        + """
        SELECT vec_id, array_to_string(codes, ',') AS codes_str,
               CAST(list_aggregate(
                 list_transform(codes, x -> CAST(x AS BIGINT) * x),
                 'sum') AS BIGINT) AS int_norm
        FROM c
        """,
        "quantized_topk": "WITH "
        + _QUANT_CTES
        + """,
        sc AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                      CAST(list_dot_product(q.codes, n.codes) AS BIGINT)
                        AS int_dot
               FROM c q JOIN c n
                 ON q.vec_id < 20 AND q.vec_id <> n.vec_id)
        SELECT query_id, neighbor_id, int_dot,
               CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY int_dot DESC, neighbor_id) AS BIGINT)
                 AS rank
        FROM sc QUALIFY rank <= 10
        """,
        "pq_codes": "WITH "
        + _PQ_CTES
        + """
        SELECT vec_id,
               string_agg(CAST(code AS VARCHAR), ','
                          ORDER BY subspace) AS pq_str
        FROM best WHERE rn = 1 GROUP BY vec_id
        """,
        # ADC candidate scan (exact integer lookup-table distances,
        # order-free SUM) -> top-50 pool -> exact float re-rank, the
        # same sequential-double cosine as ann_cosine_topk's oracle
        "pq_topk_rerank": "WITH "
        + _PQ_CTES
        + """,
        corp AS (SELECT vec_id, subspace, code
                 FROM best WHERE rn = 1),
        lut AS (SELECT sl.vec_id AS query_id, sl.subspace, bk.code,
                       CAST(list_dot_product(sl.sub, sl.sub)
                            - 2 * list_dot_product(sl.sub, bk.c_codes)
                            + list_dot_product(bk.c_codes, bk.c_codes)
                         AS BIGINT) AS d
                FROM sl JOIN bk ON bk.subspace = sl.subspace
                WHERE sl.vec_id < 10),
        adc AS (SELECT l.query_id, p.vec_id AS neighbor_id,
                       CAST(SUM(l.d) AS BIGINT) AS pq_dist
                FROM corp p
                JOIN lut l ON l.subspace = p.subspace
                          AND l.code = p.code
                WHERE p.vec_id <> l.query_id
                GROUP BY 1, 2),
        cand AS (SELECT query_id, neighbor_id,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY pq_dist, neighbor_id) AS crn
                 FROM adc QUALIFY crn <= 50),
        rr AS (SELECT cand.query_id, cand.neighbor_id,
                      ROUND(list_dot_product(q.v, n.v)
                            / (sqrt(list_dot_product(q.v, q.v))
                               * sqrt(list_dot_product(n.v, n.v))), 6)
                        AS cosine
               FROM cand
               JOIN e q ON q.vec_id = cand.query_id
               JOIN e n ON n.vec_id = cand.neighbor_id)
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS BIGINT)
                 AS rank
        FROM rr QUALIFY rank <= 10
        """,
        # 8-token disjoint chunks (chunk_dedup_docs' CTE), document
        # frequency via two-phase distinct, spans in >= 3 docs removed
        # from every doc
        "boilerplate_cleaned_docs": """
        WITH t AS (
          SELECT doc_id, string_split_regex(text, '\\s+') AS toks
          FROM documents
        ),
        sdoc AS (SELECT doc_id, toks, len(toks) AS n
                 FROM t WHERE len(toks) > 0),
        ee AS (SELECT doc_id, toks,
                      unnest(generate_series(0, n - 1, 8)) AS start
               FROM sdoc),
        cc AS (SELECT doc_id, CAST(start // 8 AS BIGINT) AS chunk_index,
                      array_to_string(toks[start + 1 : start + 8], ' ')
                        AS chunk_text
               FROM ee),
        dfq AS (SELECT chunk_text, COUNT(DISTINCT doc_id) AS dfc
                FROM cc GROUP BY 1),
        flag AS (SELECT cc.doc_id, cc.chunk_index, cc.chunk_text,
                        (dfq.dfc < 3) AS keep
                 FROM cc JOIN dfq USING (chunk_text)),
        reb AS (SELECT doc_id,
                       string_agg(chunk_text, ' ' ORDER BY chunk_index)
                         FILTER (WHERE keep) AS clean_text,
                       COUNT(*) AS n_chunks,
                       COUNT(*) - COUNT(*) FILTER (WHERE keep)
                         AS n_removed
                FROM flag GROUP BY doc_id)
        SELECT doc_id, COALESCE(clean_text, '') AS clean_text,
               CAST(n_chunks AS BIGINT) AS n_chunks,
               CAST(n_removed AS BIGINT) AS n_removed
        FROM reb
        """,
        # duplicated-span excision: same md5-of-window grouping key as
        # the Spark plan (collision-free, engine-identical), DuckDB
        # 1-based inclusive slice == Spark slice(arr, i+1, W)
        "duplicate_span_docs": """
        WITH t AS (
          SELECT doc_id, string_split_regex(text, '\\s+') AS toks
          FROM documents
        ),
        sdoc AS (SELECT doc_id, toks, len(toks) AS n
                 FROM t WHERE len(toks) > 0),
        wins AS (
          SELECT doc_id, start,
                 md5(array_to_string(toks[start + 1 : start + 16], ' '))
                   AS h
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(0, n - 16)) AS start
                FROM sdoc WHERE n >= 16)
        ),
        dup AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM wins)
                GROUP BY h HAVING COUNT(*) >= 2),
        hits AS (SELECT doc_id, start FROM wins JOIN dup USING (h)),
        isl AS (
          SELECT doc_id, start,
                 CASE WHEN start > COALESCE(MAX(start + 16) OVER (
                      PARTITION BY doc_id ORDER BY start
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), -1)
                 THEN 1 ELSE 0 END AS brk
          FROM hits
        ),
        grp AS (SELECT doc_id, start,
                       SUM(brk) OVER (PARTITION BY doc_id
                                      ORDER BY start) AS isl_id
                FROM isl),
        spans AS (SELECT doc_id, MIN(start) AS s, MAX(start) + 16 AS e
                  FROM grp GROUP BY doc_id, isl_id),
        tok_rows AS (
          SELECT doc_id, toks[i] AS tok, i
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, n)) AS i
                FROM sdoc)
        ),
        kept AS (
          SELECT r.doc_id, r.tok, r.i FROM tok_rows r
          WHERE NOT EXISTS (SELECT 1 FROM spans sp
                            WHERE sp.doc_id = r.doc_id
                              AND r.i - 1 >= sp.s AND r.i - 1 < sp.e)
        ),
        reb AS (SELECT doc_id,
                       string_agg(tok, ' ' ORDER BY i) AS clean_text
                FROM kept GROUP BY doc_id),
        stats AS (SELECT doc_id, COUNT(*) AS n_spans,
                         SUM(e - s) AS tokens_removed
                  FROM spans GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(r.clean_text, '') AS clean_text,
               CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans,
               CAST(COALESCE(st.tokens_removed, 0) AS BIGINT)
                 AS tokens_removed
        FROM sdoc d
        LEFT JOIN reb r USING (doc_id)
        LEFT JOIN stats st USING (doc_id)
        """,
        # incremental variant: batch (>= 400) windows duplicated when
        # present in the < 400 corpus's hash set OR in >= 2 distinct
        # batch docs; islands/excision identical, batch rows only
        "incremental_span_dedup": """
        WITH t AS (
          SELECT doc_id, string_split_regex(text, '\\s+') AS toks
          FROM documents
        ),
        sdoc AS (SELECT doc_id, toks, len(toks) AS n
                 FROM t WHERE len(toks) > 0),
        wins_all AS (
          SELECT doc_id, start,
                 md5(array_to_string(toks[start + 1 : start + 16], ' '))
                   AS h
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(0, n - 16)) AS start
                FROM sdoc WHERE n >= 16)
        ),
        cw AS (SELECT DISTINCT h FROM wins_all WHERE doc_id < 400),
        bw AS (SELECT doc_id, start, h FROM wins_all
               WHERE doc_id >= 400),
        dup AS (
          SELECT h FROM (SELECT DISTINCT doc_id, h FROM bw)
          GROUP BY h HAVING COUNT(*) >= 2
          UNION
          SELECT DISTINCT h FROM bw WHERE h IN (SELECT h FROM cw)
        ),
        hits AS (SELECT doc_id, start FROM bw JOIN dup USING (h)),
        isl AS (
          SELECT doc_id, start,
                 CASE WHEN start > COALESCE(MAX(start + 16) OVER (
                      PARTITION BY doc_id ORDER BY start
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), -1)
                 THEN 1 ELSE 0 END AS brk
          FROM hits
        ),
        grp AS (SELECT doc_id, start,
                       SUM(brk) OVER (PARTITION BY doc_id
                                      ORDER BY start) AS isl_id
                FROM isl),
        spans AS (SELECT doc_id, MIN(start) AS s, MAX(start) + 16 AS e
                  FROM grp GROUP BY doc_id, isl_id),
        tok_rows AS (
          SELECT doc_id, toks[i] AS tok, i
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, n)) AS i
                FROM sdoc WHERE doc_id >= 400)
        ),
        kept AS (
          SELECT r.doc_id, r.tok, r.i FROM tok_rows r
          WHERE NOT EXISTS (SELECT 1 FROM spans sp
                            WHERE sp.doc_id = r.doc_id
                              AND r.i - 1 >= sp.s AND r.i - 1 < sp.e)
        ),
        reb AS (SELECT doc_id,
                       string_agg(tok, ' ' ORDER BY i) AS clean_text
                FROM kept GROUP BY doc_id),
        stats AS (SELECT doc_id, COUNT(*) AS n_spans,
                         SUM(e - s) AS tokens_removed
                  FROM spans GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(r.clean_text, '') AS clean_text,
               CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans,
               CAST(COALESCE(st.tokens_removed, 0) AS BIGINT)
                 AS tokens_removed
        FROM (SELECT doc_id FROM sdoc WHERE doc_id >= 400) d
        LEFT JOIN reb r USING (doc_id)
        LEFT JOIN stats st USING (doc_id)
        """,
        # top-k duplicated windows: same md5 grouping key; LIMIT made
        # deterministic by the (n_docs, n_occurrences, h) total order
        "duplicated_span_report": """
        WITH t AS (
          SELECT doc_id, string_split_regex(text, '\\s+') AS toks
          FROM documents
        ),
        sdoc AS (SELECT doc_id, toks, len(toks) AS n
                 FROM t WHERE len(toks) > 0),
        wins AS (
          SELECT doc_id, start,
                 array_to_string(toks[start + 1 : start + 16], ' ')
                   AS w,
                 md5(array_to_string(toks[start + 1 : start + 16], ' '))
                   AS h
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(0, n - 16)) AS start
                FROM sdoc WHERE n >= 16)
        ),
        pd AS (SELECT h, doc_id, COUNT(*) AS c
               FROM wins GROUP BY h, doc_id),
        counts AS (SELECT h, COUNT(*) AS n_docs,
                          CAST(SUM(c) AS BIGINT) AS n_occurrences
                   FROM pd GROUP BY h HAVING COUNT(*) >= 2),
        top AS (SELECT * FROM counts
                ORDER BY n_docs DESC, n_occurrences DESC, h
                LIMIT 20),
        rep AS (SELECT h, MIN(w) AS span_text FROM wins
                WHERE h IN (SELECT h FROM top) GROUP BY h)
        SELECT r.span_text,
               CAST(tp.n_docs AS BIGINT) AS n_docs,
               tp.n_occurrences,
               tp.h AS window_md5
        FROM top tp JOIN rep r USING (h)
        """,
        # round-1 BPE pair statistics: the training argmax order made
        # a visible LIMIT (count DESC, pair asc); left/right renamed —
        # they are SQL keywords
        "bpe_pair_stats": """
        WITH w AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS wcount
          FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word
                FROM documents)
          WHERE word <> '' GROUP BY word
        ),
        s AS (SELECT wcount, string_split(word, '') AS cs,
                     len(string_split(word, '')) AS n
              FROM w),
        p AS (
          SELECT cs[i] AS left_sym, cs[i + 1] AS right_sym, wcount
          FROM (SELECT cs, wcount,
                       unnest(generate_series(1, n - 1)) AS i
                FROM s WHERE n >= 2)
        )
        SELECT left_sym, right_sym,
               CAST(SUM(wcount) AS BIGINT) AS pair_count
        FROM p GROUP BY left_sym, right_sym
        ORDER BY pair_count DESC, left_sym, right_sym
        LIMIT 20
        """,
        # normalization chain mirrored with 'g' flags (DuckDB replaces
        # first-match-only by default; Spark replaces all)
        "normalized_docs": """
        WITH n AS (
          SELECT doc_id,
                 trim(regexp_replace(regexp_replace(regexp_replace(
                     lower(text),
                     '[^\\p{L}\\p{N}\\s]', ' ', 'g'),
                     '\\p{N}', '0', 'g'),
                     '\\s+', ' ', 'g')) AS norm_text
          FROM documents
        )
        SELECT doc_id, norm_text, md5(norm_text) AS norm_md5 FROM n
        """,
        "dsir_doc_weights": _dsir_cte()
        + """
        SELECT doc_id, w_micro,
               ROUND(w_micro / 1000000.0, 6) AS log_weight
        FROM w
        """,
        # Gumbel-top-k resampling: the perturbation is an md5-hex8
        # uniform pushed through -ln(-ln u), quantized to micro-nats —
        # the selection key is a plain BIGINT, replayed exactly
        "dsir_selected_docs": _dsir_cte()
        + f"""
        , g AS (
          SELECT doc_id, w_micro,
                 md5('7:' || CAST(doc_id AS VARCHAR)) AS m
          FROM w
        ),
        sel AS (
          SELECT doc_id,
                 ROUND(w_micro / 1000000.0, 6) AS log_weight,
                 w_micro + CAST(ROUND(-ln(-ln(({_sql_hex8('m')} + 0.5)
                                / 4294967296.0)) * 1000000) AS BIGINT)
                   AS sel_micro
          FROM g
        )
        SELECT doc_id, log_weight, sel_micro
        FROM sel ORDER BY sel_micro DESC, doc_id LIMIT 100
        """,
        # NB training replayed in SQL: per-(class, bucket) counts,
        # add-1 smoothing, integer micro-nat weights + doc-count prior
        "nb_quality_scores": f"""
        WITH toks AS (
          SELECT doc_id, lang, string_split(text, ' ') AS t
          FROM documents
        ),
        ngr AS (
          SELECT doc_id, lang,
                 unnest(list_concat(t,
                     list_transform(range(1, len(t)),
                                    i -> t[i] || '_' || t[i + 1]))) AS ng
          FROM toks
        ),
        hb AS (SELECT doc_id, lang, md5('7:' || ng) AS m FROM ngr),
        feats AS (
          SELECT doc_id,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                 CAST({_sql_hex4('m')} % 512 AS INTEGER) AS bucket,
                 COUNT(*) AS cnt
          FROM hb GROUP BY 1, 2, 3
        ),
        pcb AS (SELECT y, bucket, SUM(cnt) AS c FROM feats GROUP BY 1, 2),
        np_ AS (SELECT COALESCE(SUM(c), 0) AS n_p FROM pcb WHERE y = 1),
        nn_ AS (SELECT COALESCE(SUM(c), 0) AS n_n FROM pcb WHERE y = 0),
        dpn AS (SELECT COUNT(*) FILTER (WHERE lang = 'en') AS d_p,
                       COUNT(*) FILTER (WHERE lang <> 'en') AS d_n
                FROM documents),
        spine AS (SELECT unnest(range(512)) AS bucket),
        wb AS (
          SELECT spine.bucket,
                 CAST(ROUND((ln((COALESCE(pb.c, 0) + 1.0) / (n_p + 512.0))
                           - ln((COALESCE(nb2.c, 0) + 1.0) / (n_n + 512.0)))
                            * 1000000) AS BIGINT) AS w_micro
          FROM spine
          LEFT JOIN (SELECT bucket, c FROM pcb WHERE y = 1) pb
            USING (bucket)
          LEFT JOIN (SELECT bucket, c FROM pcb WHERE y = 0) nb2
            USING (bucket), np_, nn_
        ),
        prior AS (SELECT CAST(ROUND(ln((d_p + 1.0) / (d_n + 1.0))
                                    * 1000000) AS BIGINT) AS pm
                  FROM dpn),
        ev AS (SELECT doc_id, CAST(SUM(cnt * w_micro) AS BIGINT) AS evid
               FROM feats JOIN wb USING (bucket) GROUP BY 1)
        SELECT doc_id, evid + pm AS score_micro,
               ROUND((evid + pm) / 1000000.0, 6) AS log_odds,
               CASE WHEN evid + pm > 0 THEN 1 ELSE 0 END AS predicted
        FROM ev, prior
        """,
        # identity projection: the Spark side earns equality by
        # surviving the full WET encode->gzip->parse round trip
        # (strlen = BYTE length in DuckDB, the Content-Length unit)
        "wet_roundtrip_docs": """
        SELECT doc_id, text AS text_out,
               CAST(strlen(text) AS BIGINT) AS content_length
        FROM documents
        """,
        # float literals are ::DOUBLE because DuckDB parses 1.2 as
        # DECIMAL(2,1) (exact) while Spark's lit(1.2) is the binary
        # double — the two differ in the last ulp and break the hash
        "bm25_topk": """
        WITH q(token) AS (
          SELECT unnest(['customer', 'merge', 'scan', 'spark'])
        ),
        base AS (
          SELECT doc_id, len(string_split(text, ' ')) AS dl,
                 string_split(text, ' ') AS toks
          FROM documents
        ),
        stats AS (SELECT COUNT(*) AS n_docs,
                         CAST(SUM(dl) AS BIGINT) AS total_dl
                  FROM base),
        tf AS (
          SELECT t.doc_id, t.dl, t.token, COUNT(*) AS tf
          FROM (SELECT doc_id, dl, unnest(toks) AS token FROM base) t
          JOIN q USING (token)
          GROUP BY 1, 2, 3
        ),
        dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        contrib AS (
          SELECT tf.doc_id,
                 CAST(ROUND(
                   ln(1.0::DOUBLE + (stats.n_docs - dfreq.df
                                     + 0.5::DOUBLE)
                                    / (dfreq.df + 0.5::DOUBLE))
                   * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE))
                   / (tf.tf + 1.2::DOUBLE
                        * (1.0::DOUBLE - 0.75::DOUBLE
                           + (0.75::DOUBLE * tf.dl)
                             / (stats.total_dl / stats.n_docs)))
                   * 1000000) AS BIGINT) AS c
          FROM tf JOIN dfreq USING (token) CROSS JOIN stats
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
               CAST(SUM(c) AS BIGINT) AS score_micro,
               ROUND(SUM(c) / 1000000.0, 6) AS score,
               row_number() OVER (ORDER BY SUM(c) DESC, doc_id)
                 AS rank
        FROM contrib GROUP BY doc_id
        QUALIFY rank <= 20
        """,
        "bloom_screened_docs": """
        -- NOT EXISTS (not NOT IN) to mirror the engine's anti-join
        -- NULL-key convention: NULL-text batch rows are kept as new,
        -- and a NULL-text corpus row never blanks the result.
        SELECT b.doc_id, md5(b.text) AS content_hash
        FROM documents b
        WHERE b.doc_id >= 400
          AND NOT EXISTS (SELECT 1 FROM documents c
                          WHERE c.doc_id < 400 AND c.text = b.text)
        """,
        "corpus_diff": """
        WITH old AS (
          SELECT doc_id, md5(text) AS old_hash
          FROM documents WHERE doc_id < 450
        ),
        new AS (
          SELECT doc_id,
                 md5(CASE WHEN doc_id % 10 = 0 THEN text || ' v2'
                          ELSE text END) AS new_hash
          FROM documents WHERE doc_id >= 50
        ),
        j AS (
          SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                 o.old_hash, n.new_hash,
                 CASE WHEN o.old_hash IS NULL THEN 'added'
                      WHEN n.new_hash IS NULL THEN 'removed'
                      WHEN o.old_hash <> n.new_hash THEN 'changed'
                 END AS status
          FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        )
        SELECT doc_id, status, old_hash, new_hash
        FROM j WHERE status IS NOT NULL
        """,
        "table_profile": " UNION ALL ".join(
            f"""
        SELECT '{c}' AS "column", COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_value,
               CAST(MAX({c}) AS VARCHAR) AS max_value
        FROM documents
        """
            for c in ("doc_id", "text", "lang", "source", "n_chars")
        ),
        "hybrid_retrieval_rrf": """
        WITH q(token) AS (
          SELECT unnest(['customer', 'merge', 'scan', 'spark'])
        ),
        base AS (
          SELECT doc_id, len(string_split(text, ' ')) AS dl,
                 string_split(text, ' ') AS toks
          FROM documents
        ),
        stats AS (SELECT COUNT(*) AS n_docs,
                         CAST(SUM(dl) AS BIGINT) AS total_dl
                  FROM base),
        tf AS (
          SELECT t.doc_id, t.dl, t.token, COUNT(*) AS tf
          FROM (SELECT doc_id, dl, unnest(toks) AS token FROM base) t
          JOIN q USING (token)
          GROUP BY 1, 2, 3
        ),
        dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        contrib AS (
          SELECT tf.doc_id,
                 CAST(ROUND(
                   ln(1.0::DOUBLE + (stats.n_docs - dfreq.df
                                     + 0.5::DOUBLE)
                                    / (dfreq.df + 0.5::DOUBLE))
                   * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE))
                   / (tf.tf + 1.2::DOUBLE
                        * (1.0::DOUBLE - 0.75::DOUBLE
                           + (0.75::DOUBLE * tf.dl)
                             / (stats.total_dl / stats.n_docs)))
                   * 1000000) AS BIGINT) AS c
          FROM tf JOIN dfreq USING (token) CROSS JOIN stats
        ),
        bm AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY SUM(c) DESC, doc_id)
                   AS rank
          FROM contrib GROUP BY doc_id
          QUALIFY rank <= 50
        ),
        e AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE))
                       AS v
              FROM embeddings),
        dq AS (SELECT v FROM e WHERE vec_id = 7),
        cos AS (
          SELECT c.vec_id AS doc_id,
                 ROUND(list_dot_product(dq.v, c.v)
                       / (sqrt(list_dot_product(dq.v, dq.v))
                          * sqrt(list_dot_product(c.v, c.v))), 6)
                   AS cosine
          FROM e c, dq WHERE c.vec_id <> 7
        ),
        de AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY cosine DESC, doc_id)
                   AS rank
          FROM cos QUALIFY rank <= 50
        ),
        rrf AS (
          SELECT doc_id, 1000000000 // (60 + rank) AS contrib
          FROM bm
          UNION ALL
          SELECT doc_id, 1000000000 // (60 + rank) AS contrib
          FROM de
        )
        SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS rrf_nano,
               CAST(COUNT(*) AS BIGINT) AS n_legs,
               row_number() OVER (ORDER BY SUM(contrib) DESC, doc_id)
                 AS rank
        FROM rrf GROUP BY doc_id
        QUALIFY rank <= 20
        """,
        "key_skew_report": """
        WITH c AS (SELECT user_id, COUNT(*) AS n_rows
                   FROM events GROUP BY user_id),
        t AS (SELECT COUNT(*) AS total FROM events)
        SELECT user_id, CAST(c.n_rows AS BIGINT) AS n_rows,
               ROUND(c.n_rows / t.total, 6) AS share,
               row_number() OVER (ORDER BY c.n_rows DESC, user_id)
                 AS rank
        FROM c, t QUALIFY rank <= 10
        """,
        "pagerank_weights": "WITH "
        + _MINHASH_CTES
        + """,
        p AS (SELECT doc_a, doc_b FROM pairs WHERE j >= 0.5),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM p
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM p
        ),
        deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        nn AS (SELECT COUNT(*) AS n FROM documents),
        r0 AS (SELECT d.doc_id AS node,
                      1000000000000 // nn.n AS rank_pico
               FROM documents d CROSS JOIN nn),
        it1 AS (
          SELECT r.node,
                 (15 * (1000000000000 // nn.n)) // 100
                 + (85 * COALESCE(s.s, 0)) // 100 AS rank_pico
          FROM r0 r CROSS JOIN nn
          LEFT JOIN (SELECT e.dst AS node,
                            SUM(pr.rank_pico // d.outdeg) AS s
                     FROM edges e
                     JOIN r0 pr ON pr.node = e.src
                     JOIN deg d ON d.src = e.src
                     GROUP BY e.dst) s ON s.node = r.node
        ),
        it2 AS (
          SELECT r.node,
                 (15 * (1000000000000 // nn.n)) // 100
                 + (85 * COALESCE(s.s, 0)) // 100 AS rank_pico
          FROM it1 r CROSS JOIN nn
          LEFT JOIN (SELECT e.dst AS node,
                            SUM(pr.rank_pico // d.outdeg) AS s
                     FROM edges e
                     JOIN it1 pr ON pr.node = e.src
                     JOIN deg d ON d.src = e.src
                     GROUP BY e.dst) s ON s.node = r.node
        ),
        it3 AS (
          SELECT r.node,
                 (15 * (1000000000000 // nn.n)) // 100
                 + (85 * COALESCE(s.s, 0)) // 100 AS rank_pico
          FROM it2 r CROSS JOIN nn
          LEFT JOIN (SELECT e.dst AS node,
                            SUM(pr.rank_pico // d.outdeg) AS s
                     FROM edges e
                     JOIN it2 pr ON pr.node = e.src
                     JOIN deg d ON d.src = e.src
                     GROUP BY e.dst) s ON s.node = r.node
        )
        SELECT node AS doc_id, CAST(rank_pico AS BIGINT) AS rank_pico
        FROM it3
        """,
        "profile_drift_alarm": """
        WITH oldd AS (SELECT * FROM documents WHERE doc_id < 450),
        newd AS (SELECT doc_id, text,
                        CASE WHEN doc_id % 7 = 0 THEN NULL
                             ELSE lang END AS lang,
                        'consolidated' AS source, n_chars
                 FROM documents WHERE doc_id >= 50),
        po AS ("""
        + " UNION ALL ".join(
            f"""
          SELECT '{c}' AS "column", COUNT(*) AS n_rows,
                 CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_null,
                 CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
                 CAST(MIN({c}) AS VARCHAR) AS min_value,
                 CAST(MAX({c}) AS VARCHAR) AS max_value
          FROM oldd
          """
            for c in ("doc_id", "text", "lang", "source", "n_chars")
        )
        + """),
        pn AS ("""
        + " UNION ALL ".join(
            f"""
          SELECT '{c}' AS "column", COUNT(*) AS n_rows,
                 CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_null,
                 CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
                 CAST(MIN({c}) AS VARCHAR) AS min_value,
                 CAST(MAX({c}) AS VARCHAR) AS max_value
          FROM newd
          """
            for c in ("doc_id", "text", "lang", "source", "n_chars")
        )
        + """)
        SELECT po."column", 'present' AS status,
               ROUND(po.n_null / po.n_rows, 6) AS null_rate_old,
               ROUND(pn.n_null / pn.n_rows, 6) AS null_rate_new,
               CAST(ROUND(pn.n_null / pn.n_rows, 6)
                    - ROUND(po.n_null / po.n_rows, 6) > 0.02 AS INT)
                 AS null_jump_flag,
               ROUND((pn.n_distinct / pn.n_rows)
                     / (po.n_distinct / po.n_rows), 6)
                 AS distinct_ratio,
               CAST(ROUND((pn.n_distinct / pn.n_rows)
                          / (po.n_distinct / po.n_rows), 6)
                    < 0.5 AS INT) AS distinct_collapse_flag,
               CAST((po.min_value IS DISTINCT FROM pn.min_value)
                    OR (po.max_value IS DISTINCT FROM pn.max_value)
                    AS INT) AS range_changed
        FROM po JOIN pn USING ("column")
        """,
        "soft_dedup_weights": "WITH RECURSIVE "
        + _MINHASH_CTES
        + """,
        p AS (SELECT doc_a, doc_b FROM pairs WHERE j >= 0.5),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM p
          UNION
          SELECT doc_b AS src, doc_a AS dst FROM p
        ),
        reach(a, b) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
        ),
        groups AS (
          SELECT d.doc_id,
                 LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS group_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id
        ),
        sizes AS (
          SELECT group_id, CAST(COUNT(*) AS BIGINT) AS group_size
          FROM groups GROUP BY 1
        )
        SELECT g.doc_id, g.group_id, s.group_size,
               ROUND(1.0::DOUBLE / s.group_size, 6) AS weight
        FROM groups g JOIN sizes s USING (group_id)
        """,
        # Gopher rules: whitespace-run split; mean word length by
        # char arithmetic; '#'/'...' counted by replace-length delta
        # (both engines replace non-overlapping left-to-right)
        "gopher_quality_flags": f"""
        WITH t AS (
          SELECT doc_id, text,
                 string_split_regex(trim(text), '\\s+') AS toks
          FROM documents
        ),
        m AS (
          SELECT doc_id,
                 len(toks) AS n_words,
                 ROUND(length(regexp_replace(text, '\\s+', '', 'g'))
                       / len(toks), 6) AS mean_word_len,
                 len(list_filter(toks, x -> list_contains(
                     {_sql_words(STOPWORDS)}, x))) AS stop_hits,
                 ROUND(((length(text) - length(replace(text, '#', '')))
                        + (length(text)
                           - length(replace(text, '...', ''))) / 3)
                       / len(toks), 6) AS symbol_ratio,
                 ROUND(len(list_filter(toks,
                           x -> regexp_matches(x, '[a-zA-Z]')))
                       / len(toks), 6) AS alpha_frac
          FROM t
        )
        SELECT doc_id, n_words, mean_word_len, stop_hits,
               symbol_ratio, alpha_frac,
               CAST(n_words >= 25 AND n_words <= 100000 AS INTEGER)
                 AS words_ok,
               CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0
                 AS INTEGER) AS mean_len_ok,
               CAST(stop_hits >= 2 AS INTEGER) AS stop_ok,
               CAST(symbol_ratio <= 0.1 AS INTEGER) AS symbol_ok,
               CAST(alpha_frac >= 0.8 AS INTEGER) AS alpha_ok,
               CAST((n_words >= 25 AND n_words <= 100000)
                AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                AND (stop_hits >= 2) AND (symbol_ratio <= 0.1)
                AND (alpha_frac >= 0.8) AS INTEGER) AS keep
        FROM m
        """,
        # budget fill replayed with the textbook global window — the
        # Spark side's bucketed prefix sums are an execution detail,
        # the selected set depends only on the total order
        "token_budget_selection": f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents),
        sc AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 ROUND(0.3 * least(len(toks) / 100.0, 1.0)
                       + 0.4 * (len(list_distinct(toks))
                                / CAST(len(toks) AS DOUBLE))
                       + 0.3 * least(4 * (len(list_filter(toks,
                             x -> list_contains(
                                 {_sql_words(STOPWORDS)}, x)))
                             / CAST(len(toks) AS DOUBLE)), 1.0), 6)
                   AS quality_score
          FROM t
        ),
        r AS (
          SELECT *,
                 CAST(SUM(n_tokens) OVER (
                     ORDER BY quality_score DESC, doc_id)
                   - n_tokens AS BIGINT) AS run_before
          FROM sc
        )
        SELECT doc_id, quality_score, n_tokens, run_before
        FROM r WHERE run_before < 10000
        """,
        "hard_negatives": """
        WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                          list_transform(embedding,
                                         x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        s AS (SELECT q.vec_id AS query_id, q.label AS query_label,
                     c.vec_id AS neighbor_id,
                     c.label AS neighbor_label,
                     ROUND(list_dot_product(q.v, c.v)
                           / (sqrt(list_dot_product(q.v, q.v))
                              * sqrt(list_dot_product(c.v, c.v))), 6)
                       AS cosine
              FROM e q, e c
              WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id
                AND q.label <> c.label)
        SELECT query_id, query_label, neighbor_id, neighbor_label,
               cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id)
                 AS rank
        FROM s QUALIFY rank <= 5
        """,
        "knn_graph_edges": _knn_cte()
        + """
        SELECT src, dst, cosine, rank FROM knn
        """,
        # two vote->argmax rounds replayed literally: integer counts,
        # tie to the smaller label, seeds clamped via NOT IN
        "label_propagation": _knn_cte()
        + """
        , edges AS (SELECT src, dst FROM knn
                    UNION
                    SELECT dst, src FROM knn),
        seeds AS (SELECT vec_id AS node, label FROM e
                  WHERE vec_id < 20),
        v1 AS (SELECT ed.dst AS node, l.label, COUNT(*) AS n
               FROM edges ed JOIN seeds l ON l.node = ed.src
               GROUP BY 1, 2),
        p1 AS (SELECT node, label FROM (
                 SELECT node, label,
                        row_number() OVER (PARTITION BY node
                                           ORDER BY n DESC, label)
                          AS rn
                 FROM v1) WHERE rn = 1),
        l1 AS (SELECT node, label FROM seeds
               UNION ALL
               SELECT p.node, p.label FROM p1 p
               WHERE p.node NOT IN (SELECT node FROM seeds)),
        v2 AS (SELECT ed.dst AS node, l.label, COUNT(*) AS n
               FROM edges ed JOIN l1 l ON l.node = ed.src
               GROUP BY 1, 2),
        p2 AS (SELECT node, label FROM (
                 SELECT node, label,
                        row_number() OVER (PARTITION BY node
                                           ORDER BY n DESC, label)
                          AS rn
                 FROM v2) WHERE rn = 1),
        l2 AS (SELECT node, label FROM seeds
               UNION ALL
               SELECT p.node, p.label FROM p2 p
               WHERE p.node NOT IN (SELECT node FROM seeds))
        SELECT node AS vec_id, label,
               CASE WHEN node IN (SELECT node FROM seeds)
                    THEN 'seed' ELSE 'propagated' END AS origin
        FROM l2
        """,
        "curriculum_order": f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents),
        sc AS (
          SELECT doc_id,
                 ROUND(0.3 * least(len(toks) / 100.0, 1.0)
                       + 0.4 * (len(list_distinct(toks))
                                / CAST(len(toks) AS DOUBLE))
                       + 0.3 * least(4 * (len(list_filter(toks,
                             x -> list_contains(
                                 {_sql_words(STOPWORDS)}, x)))
                             / CAST(len(toks) AS DOUBLE)), 1.0), 6)
                   AS quality_score
          FROM t
        ),
        th AS (SELECT ROUND(quantile_cont(quality_score, 0.25), 6) q1,
                      ROUND(quantile_cont(quality_score, 0.5), 6) q2,
                      ROUND(quantile_cont(quality_score, 0.75), 6) q3
               FROM sc),
        st AS (SELECT doc_id, quality_score,
                      CAST((CASE WHEN ROUND(quality_score, 6) > q1
                                 THEN 1 ELSE 0 END
                          + CASE WHEN ROUND(quality_score, 6) > q2
                                 THEN 1 ELSE 0 END
                          + CASE WHEN ROUND(quality_score, 6) > q3
                                 THEN 1 ELSE 0 END) AS INTEGER)
                        AS stage
               FROM sc, th)
        SELECT doc_id, quality_score, stage,
               md5('7:' || CAST(stage AS VARCHAR) || ':'
                   || CAST(doc_id AS VARCHAR)) AS draw
        FROM st
        """,
    }
    # the indexed BM25 path must produce byte-identical output to the
    # query-time path (shared scoring tail) — same oracle by design
    oracles["bm25_topk_indexed"] = oracles["bm25_topk"]
    # batched serving: same per-(doc, term) arithmetic, per-query rank
    oracles["bm25_multi_query"] = """
        WITH qt(query_id, token) AS (
          VALUES (1, 'customer'), (1, 'merge'), (2, 'spark'),
                 (3, 'scan'), (3, 'window'), (3, 'key')
        ),
        base AS (
          SELECT doc_id, len(string_split(text, ' ')) AS dl,
                 string_split(text, ' ') AS toks
          FROM documents
        ),
        stats AS (SELECT COUNT(*) AS n_docs,
                         CAST(SUM(dl) AS BIGINT) AS total_dl
                  FROM base),
        tf AS (
          SELECT t.doc_id, t.dl, t.token, COUNT(*) AS tf
          FROM (SELECT doc_id, dl, unnest(toks) AS token FROM base) t
          WHERE t.token IN (SELECT DISTINCT token FROM qt)
          GROUP BY 1, 2, 3
        ),
        dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        contrib AS (
          SELECT tf.doc_id, tf.token,
                 CAST(ROUND(
                   ln(1.0::DOUBLE + (stats.n_docs - dfreq.df
                                     + 0.5::DOUBLE)
                                    / (dfreq.df + 0.5::DOUBLE))
                   * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE))
                   / (tf.tf + 1.2::DOUBLE
                        * (1.0::DOUBLE - 0.75::DOUBLE
                           + (0.75::DOUBLE * tf.dl)
                             / (stats.total_dl / stats.n_docs)))
                   * 1000000) AS BIGINT) AS c
          FROM tf JOIN dfreq USING (token) CROSS JOIN stats
        )
        SELECT qt.query_id, contrib.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
               CAST(SUM(c) AS BIGINT) AS score_micro,
               ROUND(SUM(c) / 1000000.0, 6) AS score,
               row_number() OVER (PARTITION BY qt.query_id
                                  ORDER BY SUM(c) DESC,
                                           contrib.doc_id)
                 AS rank
        FROM contrib JOIN qt USING (token)
        GROUP BY qt.query_id, contrib.doc_id
        QUALIFY rank <= 15
    """
    return oracles
