"""Sparse lexical retrieval — BM25 query-time top-k over a document
corpus (extension surface beyond the reference, SURVEY.md §7.2 step 6;
the reference has no retrieval at all — its closest analog is the
spark.sql text query surface, CustomerSpendingAnalysis.scala:140).

:func:`tf_idf` (operators/text.py) computes corpus-wide term WEIGHTS;
this module answers the other half of the retrieval story: given a
concrete query, return the k best documents under Okapi BM25 —

    score(d, q) = sum over t in q of
        idf(t) * tf(t,d) * (k1 + 1)
                 / (tf(t,d) + k1 * (1 - b + b * dl(d)/avgdl))

with the Robertson/Sparck-Jones idf ``ln(1 + (N - df + 0.5)/(df +
0.5))`` (the +1 form Lucene uses, so idf is never negative).

Scale shape (the part that matters at 100 TB):

- **Query-term pushdown.** The postings explode is filtered to the
  query's terms BEFORE the first shuffle (``array_intersect``-style
  filter inside the per-row token array), so the (doc, term) shuffle
  carries only documents containing at least one query term — for a
  handful of query terms that is a vanishing fraction of the corpus,
  and it is the same pruning an inverted index gives a search engine,
  expressed declaratively so Catalyst keeps the parquet scan's column
  pruning (only ``id, text`` are read).
- **Doc length without a shuffle.** dl(d) = ``size(split(text))`` is
  a per-row map computed in the same scan; avgdl is ONE scalar
  aggregate kept lazy via a broadcast cross join (no driver action in
  the builder — the tf_idf discipline).
- **Bounded result.** The final cut is ``TakeOrderedAndProject``
  via :func:`~..operators.topk.global_topk_with_rank` — per-partition
  k-row heaps, no global sort, no unpartitioned window.

Cross-engine determinism: per-(doc, term) contributions are doubles,
and a per-document SUM of doubles is accumulation-order-dependent —
so each contribution is quantized to integer micro-units
(``round(x * 1e6)`` as long) before the sum, the
:func:`~..operators.text.unigram_lm_scores` trick: integer sums are
order-independent and the final division is bit-identical on any
engine.  All inputs to the contribution are exact integers (tf, df,
N, dl) or exact integer ratios (avgdl = sum(dl)/N computed as an
explicit division of two integer aggregates — NOT ``avg()``, whose
internal accumulation differs between engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import columns
from ..sources.batch import read_parquet

from .topk import global_topk_with_rank

#: micro-unit quantization for order-independent double sums
_MICRO = 1000000


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 score per document containing >= 1 query term:
    ``(id_col, n_hit_terms, score_micro, score)`` — ``score_micro``
    (the exact integer sum of per-term micro-unit contributions) is
    the total-order tie-free ranking key; ``score`` is the human
    reading of it.

    Documents with no query term are absent (their score is 0); the
    caller ranks / cuts — see :func:`bm25_topk`.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    qarr = F.array(*[F.lit(t) for t in sorted(set(query_terms))])

    # one scan: per-row doc length + postings restricted to query
    # terms before anything shuffles.  The slim (id, dl, hits) frame
    # feeds TWO consumers (the corpus stats and the postings) — left
    # as a plan reference each would re-run the full tokenize scan
    # (two Generate-over-text subtrees in the executed plan, r12);
    # the lazy checkpoint materializes it once at the first action
    # and both sides read the ~20 B/row slim blocks instead of
    # re-splitting the text.
    toks = F.split(F.col(text_col), " ")
    base = df.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.filter(toks, lambda t: F.array_contains(qarr, t)).alias(
            "hits"
        ),
    ).localCheckpoint(eager=False)
    # corpus stats: N docs + total token count, one scalar row kept
    # lazy (broadcast cross join) — never a driver-side action here
    stats = base.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
    )
    # (doc, term) term frequencies over the pushed-down postings only
    tf = (
        base.filter(F.size("hits") > 0)
        .select(id_col, "dl", F.explode("hits").alias("token"))
        .groupBy(id_col, "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # document frequency per query term — at most |query| rows after
    # aggregation, broadcast back onto the postings
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))

    # scoring tail shared with the materialized-index path
    # (_score_postings) so the two are bit-identical by construction
    return _score_postings(tf, dfreq, stats, k1, b, id_col)


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents for a BM25 query, ranked on the integer
    ``score_micro`` (ties broken by ascending ``id_col`` — a total
    order, so the cut and the 1-based ``rank`` are deterministic).

    Plan: the :func:`bm25_scores` aggregation, then
    ``TakeOrderedAndProject`` + a k-row Arrow rank batch
    (:func:`~..operators.topk.global_topk_with_rank`) — no global
    sort, no unpartitioned window anywhere."""
    scored = bm25_scores(
        df, query_terms, k1=k1, b=b, text_col=text_col, id_col=id_col
    )
    return global_topk_with_rank(
        scored,
        [("score_micro", "desc"), (id_col, "asc")],
        k,
    )


#: RRF nano-unit numerator: floor(1e9 / (rrf_k + rank)) keeps ~7
#: significant digits for any rank a retrieval leg emits, as exact
#: integer arithmetic on both engines (no double division anywhere)
_RRF_NANO = 1_000_000_000


def rrf_fuse(
    legs: list[DataFrame],
    k: int = 20,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked retrieval legs — the
    standard way to combine a sparse (BM25) and a dense (embedding
    cosine) ranking without score calibration (Cormack et al., SIGIR
    2009: fused(d) = sum over legs of 1 / (rrf_k + rank_leg(d));
    items absent from a leg contribute nothing).

    Each ``legs[i]`` needs only ``(id_col, rank_col)``; extra columns
    are dropped.  The contribution is computed as the exact integer
    ``floor(1e9 / (rrf_k + rank))`` so the per-id sum is
    accumulation-order-independent and cross-engine hash-stable (the
    module's micro-unit discipline).  Output per fused id:
    ``(id_col, rrf_nano, n_legs, rank)`` ranked on ``rrf_nano``
    descending with ascending-id ties — a total order.

    Scale shape: the legs carry all the heavy lifting (each is
    already a bounded top-k); the fusion itself unions legs x k rows,
    one partial->final sum on ``id_col``, and a
    ``TakeOrderedAndProject`` cut — no join back to the corpus, no
    global sort.  At 100 TB the fused input is still legs x k rows.
    """
    if not legs:
        raise ValueError("legs must be non-empty")
    if k <= 0 or rrf_k < 0:
        raise ValueError("k must be positive and rrf_k non-negative")
    # True integer division (`div`), not double-divide-then-cast:
    # double division matches floor() only while the quotient's
    # fraction stays away from representability boundaries (diverges
    # for rank beyond ~2^26); `div` is exact at any rank and is the
    # same operator the DuckDB oracle's `//` performs.
    slim = [
        leg.select(
            F.col(id_col),
            F.expr(
                f"{_RRF_NANO}L div "
                f"({rrf_k}L + cast(`{rank_col}` as bigint))"
            ).alias("contrib"),
        )
        for leg in legs
    ]
    allc = slim[0]
    for s in slim[1:]:
        allc = allc.unionByName(s)
    fused = allc.groupBy(id_col).agg(
        F.sum("contrib").alias("rrf_nano"),
        F.count(F.lit(1)).alias("n_legs"),
    )
    return global_topk_with_rank(
        fused,
        [("rrf_nano", "desc"), (id_col, "asc")],
        k,
    )


# ---------------------------------------------------------------------
# Materialized inverted index — the lake-artifact form of BM25.
# bm25_topk re-derives postings from text on every query (right when
# queries are rare and the corpus hot in cache); a search-serving or
# repeated-retrieval workload wants the postings computed ONCE and
# pruned at read time.  Layout under ``index_dir``:
#
#   postings/upto=G/bucket=B/*.parquet   (doc_id, dl, token, tf)
#   meta/upto=G/dfreq/*.parquet          (token, df, bucket)
#   meta/upto=G/stats/*.parquet          (n_docs, total_dl, n_buckets)
#
# ``bucket = pmod(xxhash64(token), n_buckets)`` is a PARTITION column:
# a query prunes to its terms' bucket DIRECTORIES before any read —
# the inverted-index seek, expressed as parquet partition pruning.
# ``upto`` is the generation number AND a partition column: appended
# postings are written under upto=G+1 FIRST, the merged meta commits
# LAST (parquet ``_SUCCESS`` as the commit record), and readers take
# the max committed meta generation and filter ``upto <= G`` — so a
# crash between the two writes leaves the new postings invisible, a
# replayed append dynamically overwrites the same upto=G+1 dirs
# (idempotent), and no reader ever sees postings priced with stale
# df/avgdl.  Single-writer contract, like every lake artifact here.
# Every read declares its schema below; partition columns come last,
# typed as partition discovery types them.
# ---------------------------------------------------------------------

_DFREQ_SCHEMA = columns(
    ("token", T.StringType()), ("df", T.LongType()),
    ("bucket", T.IntegerType()),
)
_STATS_SCHEMA = columns(
    ("n_docs", T.LongType()), ("total_dl", T.LongType()),
    ("n_buckets", T.LongType()),
)


def _postings_schema(id_col: str, id_type: T.DataType) -> T.StructType:
    """``postings``, in the indexed corpus's id type."""
    return columns(
        (id_col, id_type), ("dl", T.IntegerType()), ("token", T.StringType()),
        ("tf", T.LongType()), ("upto", T.IntegerType()),
        ("bucket", T.IntegerType()),
    )


def _score_postings(
    tf: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    k1: float,
    b: float,
    id_col: str,
) -> DataFrame:
    """Shared BM25 scoring tail over (id, dl, token, tf) postings +
    (token, df) + 1-row (n_docs, total_dl) — the ONE implementation
    of the contribution arithmetic, so the query-time and indexed
    paths are bit-identical by construction (integer micro-unit
    contributions, order-independent sums)."""
    idf = F.ln(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    avgdl = F.col("total_dl") / F.col("n_docs")
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)
    contrib = idf * (F.col("tf") * (k1 + 1.0)) / denom
    contrib_micro = F.round(contrib * _MICRO).cast("long")
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .select(id_col, contrib_micro.alias("c"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hit_terms"),
            F.sum("c").alias("score_micro"),
        )
        .select(
            id_col,
            "n_hit_terms",
            "score_micro",
            F.round(F.col("score_micro") / _MICRO, 6).alias("score"),
        )
    )


def _index_postings(
    df: DataFrame,
    n_buckets: int,
    upto: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    toks = F.split(F.col(text_col), " ")
    return (
        df.select(
            F.col(id_col),
            F.size(toks).alias("dl"),
            F.explode(toks).alias("token"),
        )
        .groupBy(id_col, "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select(
            id_col,
            "dl",
            "token",
            "tf",
            F.lit(upto).alias("upto"),
            F.pmod(F.xxhash64("token"), F.lit(n_buckets)).alias(
                "bucket"
            ),
        )
    )


def _committed_generation(spark, index_dir: str) -> int:
    """Max generation G whose meta dir carries BOTH _SUCCESS markers
    (dfreq + stats) — the read frontier.  -1 if none."""
    from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
        _success_marker_exists,
    )

    jvm = spark._jvm
    meta = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/meta")
    fs = meta.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(meta):
        return -1
    best = -1
    for st in fs.listStatus(meta):
        name = st.getPath().getName()
        if not name.startswith("upto="):
            continue
        g = int(name.split("=", 1)[1])
        base = f"{index_dir}/meta/{name}"
        if _success_marker_exists(
            spark, f"{base}/dfreq"
        ) and _success_marker_exists(spark, f"{base}/stats"):
            best = max(best, g)
    return best


def build_inverted_index(
    df: DataFrame,
    index_dir: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    overwrite: bool = False,
) -> dict:
    """Materialize generation 0 of the index from ``df``.  Returns a
    small report dict.  One corpus scan builds the postings (one
    shuffle on (id, token)); dfreq and stats are aggregations OF the
    postings, so text is never re-tokenized.

    Rebuilding over a directory that already carries committed
    generations >= 1 would leave the stale higher-generation meta in
    place, and readers (which stop at the MAX committed meta) would
    merge fresh gen-0 postings with stale postings/df/stats — so a
    build over a committed index fails fast unless ``overwrite=True``,
    which removes ``meta/`` and ``postings/`` wholesale first.

    Crash contract for ``overwrite=True`` (no commit marker spans the
    delete + rebuild): a crash after ``meta/`` is deleted but before
    generation 0's dfreq+stats commit leaves postings with NO
    committed meta — readers correctly see an EMPTY index
    (``_committed_generation`` returns -1, queries over it fail
    fast / return nothing stale), and the recovery is a from-scratch
    rebuild of generation 0.  This is an AVAILABILITY gap, never a
    correctness one: at no point can a reader observe a mix of old
    and new generations, which is exactly the silent-merge corruption
    the fail-fast above exists to prevent.  To keep that true for the
    RECOVERY rebuild itself, any uncommitted on-disk leftovers are
    deleted wholesale before generation 0 is written (ADVICE r10 #1:
    a recovery over a DIFFERENT corpus would otherwise leave the
    crashed build's untouched ``upto=0`` buckets in place — the
    dynamic partition overwrite only rewrites buckets the new corpus
    hits — and the fresh dfreq/stats, computed from the merged
    on-disk postings, would commit a silent mix of both corpora)."""
    spark = df.sparkSession
    g = _committed_generation(spark, index_dir)
    if g >= 0 and not overwrite:
        raise ValueError(
            f"index at {index_dir} already has committed generation"
            f" {g}; a fresh generation-0 build over it would leave"
            " stale higher-generation meta readable — pass"
            " overwrite=True to drop the whole index first, or"
            " use append_to_index"
        )
    # wholesale delete of whatever is on disk: a committed index
    # being overwritten, or orphan meta/postings from a crashed
    # build (g == -1 but directories exist) — mirrors
    # append_to_index's orphan cleanup
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(index_dir).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    for sub in ("meta", "postings"):
        p = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{sub}")
        if fs.exists(p):
            fs.delete(p, True)
    post = _index_postings(df, n_buckets, 0, text_col, id_col)
    (
        post.write.mode("overwrite")
        .partitionBy("upto", "bucket")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(f"{index_dir}/postings")
    )
    written = read_parquet(
        spark, f"{index_dir}/postings",
        _postings_schema(id_col, df.schema[id_col].dataType),
    ).filter(F.col("upto") == 0)
    dfreq = written.groupBy("token", "bucket").agg(
        F.count(F.lit(1)).alias("df")
    )
    dfreq.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{index_dir}/meta/upto=0/dfreq"
    )
    # total_dl must count each doc once, not once per posting
    doclen = written.groupBy(id_col).agg(F.max("dl").alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        F.lit(n_buckets).cast("long").alias("n_buckets"),
    )
    stats.write.mode("overwrite").parquet(
        f"{index_dir}/meta/upto=0/stats"
    )
    row = read_parquet(
        spark, f"{index_dir}/meta/upto=0/stats", _STATS_SCHEMA
    ).first()
    return {
        "generation": 0,
        "n_docs": row.n_docs,
        "total_dl": row.total_dl,
        "n_buckets": n_buckets,
    }


def append_to_index(
    df_new: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Append a document batch as generation G+1: new postings land
    under ``postings/upto=G+1`` first, then the MERGED dfreq/stats
    commit as ``meta/upto=G+1``.  Old postings are never rewritten;
    daily cost is proportional to the batch.  Crash between the
    writes: the orphan postings are invisible (readers stop at the
    committed meta), and because the next append may carry a
    DIFFERENT batch — whose dynamic overwrite would only rewrite its
    own buckets, leaving the crashed batch's orphan buckets to be
    silently folded into the new generation's dfreq/stats — any
    uncommitted ``postings/upto=G+1`` directory is deleted wholesale
    before the new batch is written."""
    spark = df_new.sparkSession
    g = _committed_generation(spark, index_dir)
    if g < 0:
        raise ValueError(
            f"no committed index at {index_dir} — build_inverted_index first"
        )
    stats_old = read_parquet(
        spark, f"{index_dir}/meta/upto={g}/stats", _STATS_SCHEMA
    ).first()
    n_buckets = stats_old.n_buckets
    # Crash recovery: drop orphan postings from a partially-committed
    # prior append — the replacement batch need not cover the same
    # bucket set, so dynamic overwrite alone cannot evict them.
    jvm = spark._jvm
    orphan = jvm.org.apache.hadoop.fs.Path(
        f"{index_dir}/postings/upto={g + 1}"
    )
    fs = orphan.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(orphan):
        fs.delete(orphan, True)
    post = _index_postings(df_new, n_buckets, g + 1, text_col, id_col)
    (
        post.write.mode("overwrite")
        .partitionBy("upto", "bucket")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(f"{index_dir}/postings")
    )
    new_rows = read_parquet(
        spark, f"{index_dir}/postings",
        _postings_schema(id_col, df_new.schema[id_col].dataType),
    ).filter(F.col("upto") == g + 1)
    dfreq_new = new_rows.groupBy("token", "bucket").agg(
        F.count(F.lit(1)).alias("df")
    )
    dfreq_old = read_parquet(
        spark, f"{index_dir}/meta/upto={g}/dfreq", _DFREQ_SCHEMA
    )
    merged = (
        dfreq_old.unionByName(dfreq_new)
        .groupBy("token", "bucket")
        .agg(F.sum("df").alias("df"))
    )
    merged.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{index_dir}/meta/upto={g + 1}/dfreq"
    )
    doclen = new_rows.groupBy(id_col).agg(F.max("dl").alias("dl"))
    add = doclen.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")
    ).first()
    spark.createDataFrame(
        [
            (
                int(stats_old.n_docs) + int(add.n or 0),
                int(stats_old.total_dl) + int(add.t or 0),
                int(n_buckets),
            )
        ],
        "n_docs long, total_dl long, n_buckets long",
    ).write.mode("overwrite").parquet(
        f"{index_dir}/meta/upto={g + 1}/stats"
    )
    return {
        "generation": g + 1,
        "n_new_docs": int(add.n or 0),
    }


def bm25_topk_from_index(
    spark,
    index_dir: str,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k BM25 over the MATERIALIZED index: identical output to
    :func:`bm25_topk` on the indexed corpus (same scoring tail, same
    integer arithmetic), but the read is pruned to the query terms'
    bucket directories (partition pruning on ``bucket``) + committed
    generations (partition pruning on ``upto``) + a token pushdown
    inside the pruned files — the inverted-index seek, declaratively."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    g = _committed_generation(spark, index_dir)
    if g < 0:
        raise ValueError(f"no committed index at {index_dir}")
    stats_df = read_parquet(
        spark, f"{index_dir}/meta/upto={g}/stats", _STATS_SCHEMA
    )
    n_buckets = stats_df.first().n_buckets
    terms = sorted(set(query_terms))
    # |q|-row collect: the terms' partition buckets (xxhash64 is
    # JVM-side, so evaluate it with a tiny one-column frame)
    trows = spark.createDataFrame(
        [(t,) for t in terms], "token string"
    ).select(
        "token",
        F.pmod(F.xxhash64("token"), F.lit(int(n_buckets))).alias("b"),
    )
    buckets = sorted({int(r.b) for r in trows.collect()})
    # the postings' id type is the indexed corpus's, which a query
    # call does not know: this one read infers it
    post = (
        read_parquet(spark, f"{index_dir}/postings", None)
        .filter(
            (F.col("upto") <= g)
            & F.col("bucket").isin(buckets)
            & F.col("token").isin(terms)
        )
        .select(id_col, "dl", "token", "tf")
    )
    dfreq = (
        read_parquet(spark, f"{index_dir}/meta/upto={g}/dfreq", _DFREQ_SCHEMA)
        .filter(F.col("bucket").isin(buckets) & F.col("token").isin(terms))
        .select("token", "df")
    )
    stats = stats_df.select("n_docs", "total_dl")
    scored = _score_postings(post, dfreq, stats, k1, b, id_col)
    return global_topk_with_rank(
        scored,
        [("score_micro", "desc"), (id_col, "asc")],
        k,
    )


def bm25_topk_many(
    df: DataFrame,
    queries: DataFrame,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
) -> DataFrame:
    """Batched BM25 — the retrieval-SERVING shape: score a whole
    TABLE of queries ``(query_id, terms array)`` against the corpus
    in ONE pass, instead of one corpus scan per query.  Output:
    ``(query_id, doc_id, n_hit_terms, score_micro, score, rank)``,
    rank 1..k per query under the (score_micro DESC, doc ASC) total
    order — per-(doc, term) arithmetic is identical to
    :func:`bm25_scores` (same integer micro-unit contributions), so
    each query's result equals its single-query run exactly.

    Scale shape: the query-term UNION is aggregated once (a table
    bounded by total query vocabulary) and broadcast; tokens explode
    map-side and the broadcast semi-join prunes non-query tokens
    BEFORE the (doc, token) aggregation shuffle — so the postings
    exchange still carries only hit postings, Q times cheaper than Q
    separate scans.  tf and df are computed ONCE per (doc, token) /
    token and fanned out to queries by a second broadcast join; the
    per-query cut is the map-side-pruned WindowGroupLimit rank
    (partitioned by query — never global).
    """
    from pyspark.sql import Window

    qt = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(F.array_distinct(F.col(terms_col))).alias(
                "token"
            ),
        )
        .distinct()
    )
    # the term union is bounded by total query vocabulary (the same
    # contract that broadcast it); collecting it to a literal lets
    # the postings prune run INSIDE the one tokenize scan — the old
    # shape tokenized the corpus twice (explode side + a separate
    # full-text stats scan, r12) and shipped every token into the
    # broadcast join instead of filtering per row
    term_list = sorted(
        {r["token"] for r in qt.select("token").distinct().collect()}
    )
    qarr = (
        F.array(*[F.lit(t) for t in term_list])
        if term_list
        else F.expr("CAST(array() AS array<string>)")
    )
    toks = F.split(F.col(text_col), " ")
    slim = df.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.filter(toks, lambda t: F.array_contains(qarr, t)).alias(
            "hits"
        ),
    ).localCheckpoint(eager=False)
    base = slim.filter(F.size("hits") > 0).select(
        id_col, "dl", F.explode("hits").alias("token")
    )
    stats = slim.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
    )
    tf = base.groupBy(id_col, "dl", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored_terms = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.ln(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    avgdl = F.col("total_dl") / F.col("n_docs")
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)
    contrib = idf * (F.col("tf") * (k1 + 1.0)) / denom
    per_query = (
        scored_terms.select(
            id_col,
            "token",
            F.round(contrib * _MICRO).cast("long").alias("c"),
        )
        .join(F.broadcast(qt), "token")
        .groupBy("query_id", id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hit_terms"),
            F.sum("c").alias("score_micro"),
        )
        .select(
            "query_id",
            id_col,
            "n_hit_terms",
            "score_micro",
            F.round(F.col("score_micro") / _MICRO, 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    )
    return (
        per_query.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
