"""Text-analysis operators for large-scale training-data pipelines
(extension surface beyond the reference, SURVEY.md §7.2 step 6):
token statistics, quality scoring, language identification, document
fingerprinting.

Everything is built-in Catalyst expressions (split / filter /
transform / md5 / array ops) — no Python UDFs — so the operators run
whole-stage-codegen'd and scale linearly with a parquet scan: at
100 TB these are embarrassingly parallel per-row maps with NO shuffle
at all until an (optional) aggregation.

Cross-engine determinism notes (the DuckDB oracle mirrors each
expression): Spark ``split(text, ' ')`` == DuckDB ``string_split``;
``md5`` hex output is identical; Spark ``slice(arr, i, n)`` ==
DuckDB 1-based inclusive ``arr[i:i+n-1]``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Minimal English stopword set used for stopword-ratio scoring.
STOPWORDS = (
    "the",
    "a",
    "of",
    "and",
    "to",
    "in",
    "is",
    "on",
    "for",
    "with",
)

#: Marker words per language for the n-gram/stopword language-ID
#: heuristic (deterministic, extensible).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
}

#: BPE-ish token pattern: letter runs, digit runs, or single
#: non-alphanumeric marks.
TOKEN_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token statistics: whitespace tokens, distinct
    tokens, regex (BPE-ish) tokens, characters."""
    toks = F.split(F.col(text_col), " ")
    return df.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.size(
            # group 0 = whole match, same default as the DuckDB oracle
            F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0)
        ).alias("n_regex_tokens"),
        F.length(text_col).alias("n_chars_actual"),
    )


def _stop_hits(tokens: F.Column) -> F.Column:
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(tokens, lambda t: F.array_contains(stop, t)))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality in [0, 1]:

    - length component: saturating ``min(n_tokens / 100, 1)``
    - diversity component: distinct/total token ratio
    - stopword component: stopword ratio (natural prose has some)

    quality = round(0.3*length + 0.4*diversity + 0.3*min(4*stop, 1), 6)
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    stop_ratio = _stop_hits(toks) / n
    score = (
        0.3 * F.least(n / F.lit(100.0), F.lit(1.0))
        + 0.4 * (uniq / n)
        + 0.3 * F.least(4 * stop_ratio, F.lit(1.0))
    )
    return df.select(
        "doc_id",
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: count hits per language's marker set,
    argmax with fixed priority (en > es > de), 'und' when no marker
    hits at all."""
    toks = F.split(F.col(text_col), " ")

    def _marker_hits(markers: tuple[str, ...]) -> F.Column:
        arr = F.array(*[F.lit(w) for w in markers])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = {
        lang: _marker_hits(markers)
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    detected = (
        F.when(best == 0, F.lit("und"))
        .when(scores["en"] == best, F.lit("en"))
        .when(scores["es"] == best, F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return df.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS],
        detected.alias("detected_lang"),
    )


def normalize_for_dedup(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
    lowercase: bool = True,
    strip_punct: bool = True,
    digits_to_zero: bool = True,
) -> DataFrame:
    """CCNet/C4-style text normalization BEFORE hashing — the step
    that makes "Hello, World!" and "hello world" the same exact-dup
    key.  Lowercase, punctuation-to-space (everything outside
    letters/digits/whitespace), every digit mapped to ``0`` (the
    CCNet convention: "v2.1" and "v3.4" normalize together), and
    whitespace runs collapsed to single spaces with ends trimmed —
    each toggleable, applied in that order, appended as ``out_col``
    so the raw text stays available downstream.

    Pure codegen'd per-row expressions (lower + three
    regexp_replace) — zero shuffle, partitioning preserved; feed the
    result's ``out_col`` to ``exact_dedup_groups`` /
    ``doc_fingerprints`` / the span-dedup family.  Engine parity:
    ``\\p{L}``/``\\p{N}`` mean the same classes in Java regex and
    DuckDB's RE2, and the oracle passes the ``'g'`` flag (DuckDB
    replaces first-match-only by default where Spark replaces all).
    Unicode case-folding beyond simple mapping (e.g. dotted-I) and
    accent stripping are out of scope — they need ICU, which neither
    engine guarantees here."""
    c = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    if strip_punct:
        c = F.regexp_replace(c, r"[^\p{L}\p{N}\s]", " ")
    if digits_to_zero:
        c = F.regexp_replace(c, r"\p{N}", "0")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out_col, c)


def doc_fingerprints(
    df: DataFrame, text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """Document fingerprints for dedup:

    - ``fp_md5``: md5 of the raw text (exact-dup key)
    - ``fp_shingle``: minimum md5 over word ``shingle_n``-grams — a
      1-permutation MinHash; equal fingerprints are near-dup
      candidates.  NULL for docs shorter than ``shingle_n`` tokens.
    """
    # stays a pure map (shuffle-free): the interpreted array transform
    # costs less than an explode + partial-min shuffle + join-back
    # would here (measured — the opposite tradeoff from
    # dedup_fuzzy.minhash_signatures, whose pipeline already shuffles).
    # But the map is md5-heavy and the byte-small doc scan is one
    # partition: rebalance first so it uses every core (the only
    # shuffle is of the small input bytes, before the heavy work).
    from kafka_sparkstreaming_sbt_spark.plans import parallelize_for_compute

    df = parallelize_for_compute(df)
    toks = F.split(F.col(text_col), " ")
    n_sh = F.size(toks) - (shingle_n - 1)
    # sequence(1, 0) counts DOWN in Spark (a slice at start 0 is a
    # runtime error), so short docs guard the expression itself:
    # their rolling fingerprint is NULL, not a crash
    seq = F.when(n_sh >= 1, F.sequence(F.lit(1), n_sh)).otherwise(
        F.expr("CAST(array() AS array<int>)")
    )
    shingle_mins = F.array_min(
        F.transform(
            seq,
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(toks, i, shingle_n))
            ),
        )
    )
    return df.select(
        "doc_id",
        F.md5(F.col(text_col)).alias("fp_md5"),
        F.when(n_sh >= 1, shingle_mins).alias("fp_shingle"),
    )


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Exact dedup via hash-groupBy on md5(text): one row per distinct
    content with the kept (minimum) doc_id and the duplicate count.
    Single hash shuffle on a high-cardinality key — the canonical
    100 TB-safe exact dedup."""
    return (
        df.select("doc_id", F.md5(F.col(text_col)).alias("fp_md5"))
        .groupBy("fp_md5")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


#: PII patterns deliberately restricted to syntax with IDENTICAL
#: semantics in Java regex (Spark) and RE2 (the DuckDB oracle):
#: character classes, bounded quantifiers, \b word boundaries — no
#: backrefs or lookaround.  Applied leftmost, greedy in both engines.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b(\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\b\d{3}-\d{4}\b",
}

#: Replacement order matters only for the redacted text (counts are
#: taken on the original): emails first (their local parts may contain
#: digits), then IPs (dotted quads must not be half-eaten by the
#: phone pattern), then phones.
_PII_ORDER = ("email", "ip", "phone")


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing — the redaction pass every training-data pipeline
    runs before tokenization: emails / IPv4s / phone-shaped numbers
    replaced by ``<EMAIL>`` / ``<IP>`` / ``<PHONE>`` tokens, with
    per-kind match counts (taken on the ORIGINAL text) for audit
    sampling.

    Pure ``regexp_replace`` / ``regexp_extract_all`` Catalyst
    expressions: whole-stage codegen'd, zero shuffle, linear in the
    scan — the shape any per-row scrub must have at 100 TB.
    """
    t = F.col(text_col)
    redacted = t
    for name in _PII_ORDER:
        redacted = F.regexp_replace(
            redacted, PII_PATTERNS[name], f"<{name.upper()}>"
        )
    counts = [
        F.size(
            F.regexp_extract_all(t, F.lit(PII_PATTERNS[name]), F.lit(0))
        )
        .cast("long")
        .alias(f"n_{name}s")
        for name in _PII_ORDER
    ]
    return df.select("doc_id", redacted.alias("redacted"), *counts)


def tf_idf(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-(document, token) TF-IDF — the classic corpus-statistics
    feature for retrieval/quality pipelines.

    tf = token count in doc / doc token count; idf = ln(N / doc_freq)
    (raw variant — every input to the double math is an exact integer
    ratio, so Spark and the SQL oracle compute bit-identical values).

    Scale shape: explode -> partial->final (doc, token) count, then
    two aggregations over the COUNTS table (doc lengths, document
    frequencies — both orders of magnitude smaller than the postings),
    a scalar corpus count kept LAZY via a broadcast cross join (no
    driver-side action inside the builder), and broadcast-friendly
    dimension joins back onto the postings.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    )
    counts = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf_count")
    )
    doc_len = counts.groupBy(id_col).agg(
        F.sum("tf_count").alias("n_tokens")
    )
    dfreq = counts.groupBy("token").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    total = df.select(F.countDistinct(id_col).alias("n_docs"))
    tf = F.col("tf_count") / F.col("n_tokens")
    idf = F.ln(F.col("n_docs") / F.col("doc_freq"))
    return (
        counts.join(doc_len, id_col)
        .join(dfreq, "token")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            "token",
            F.round(tf, 6).alias("tf"),
            "doc_freq",
            F.round(idf, 6).alias("idf"),
            F.round(tf * idf, 6).alias("tf_idf"),
        )
    )


def unigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean token log-probability under the corpus
    unigram MLE — the cheap "how typical is this document" LM score
    used for perplexity-style quality filtering.

    Cross-engine determinism: a per-document SUM of doubles depends on
    accumulation order, so each token's log-prob is first quantized to
    an exact integer (micro-nats, ``round(ln(n/N)*1e6)``) — integer
    sums are order-independent, and the single final division is
    bit-identical everywhere.

    Scale shape: explode -> vocabulary count (partial->final, one
    shuffle on token), postings re-join on token (AQE picks the
    strategy; the vocabulary side is zipf-small after aggregation),
    scalar corpus total kept lazy via a broadcast cross join, then one
    per-doc aggregation.  Same postings discipline as
    :func:`tf_idf`."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_tok"))
    total = vocab.select(F.sum("n_tok").alias("n_total"))
    lp_micro = F.round(
        F.ln(F.col("n_tok") / F.col("n_total")) * 1000000
    ).cast("long")
    scored = (
        toks.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .select(id_col, lp_micro.alias("lp"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum("lp") / (1000000 * F.count(F.lit(1))), 6
        ).alias("avg_logprob"),
    )


def bigram_pmi(
    df: DataFrame, text_col: str = "text", min_count: int = 5
) -> DataFrame:
    """Corpus collocations: pointwise mutual information of adjacent
    token pairs, ``ln(P(xy) / (P(x)P(y)))``, for pairs seen at least
    ``min_count`` times.

    Every input to the float math is an exact integer count, and the
    expression tree is written identically in the SQL oracle, so the
    PMI values are bit-identical across engines (no sum-order
    dependence — the only sums are integer counts).

    Scale shape: two exploded counts (bigrams, unigrams — each
    partial->final on its key), the surviving >=min_count bigram table
    is tiny relative to the corpus, and the two unigram lookups join
    on token with AQE choosing the strategy.  Scalar totals stay lazy
    broadcast cross joins."""
    toks = F.split(F.col(text_col), " ")
    pairs = df.select(
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("pair")
    ).select("pair.w1", "pair.w2")
    bigrams = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("pair_count")
    )
    unigrams = df.select(
        F.explode(toks).alias("token")
    ).groupBy("token").agg(F.count(F.lit(1)).alias("n_tok"))
    n_bi = bigrams.select(F.sum("pair_count").alias("n_bigrams"))
    n_uni = unigrams.select(F.sum("n_tok").alias("n_unigrams"))
    u1 = unigrams.select(
        F.col("token").alias("w1"), F.col("n_tok").alias("c1")
    )
    u2 = unigrams.select(
        F.col("token").alias("w2"), F.col("n_tok").alias("c2")
    )
    pmi = F.ln(
        (F.col("pair_count") / F.col("n_bigrams"))
        / (
            (F.col("c1") / F.col("n_unigrams"))
            * (F.col("c2") / F.col("n_unigrams"))
        )
    )
    return (
        bigrams.filter(F.col("pair_count") >= min_count)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
        .select(
            "w1",
            "w2",
            "pair_count",
            F.round(pmi, 6).alias("pmi"),
        )
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Intra-document repetition — the standard quality filter for
    boilerplate/looped generations: the share of word ``n``-grams that
    are repeats of an earlier n-gram in the SAME document
    (1 - distinct/total).  Docs with fewer than ``n`` tokens report
    NULLs (no n-gram support).  Pure per-row array expressions — but
    the per-row work (n-gram build + distinct) is heavy enough that a
    byte-small scan partition starves the cores, so the input is
    rebalanced first (the dedup/simhash modules' pattern; measured
    3.2s -> sub-second at sf0.1)."""
    from kafka_sparkstreaming_sbt_spark.plans import parallelize_for_compute

    df = parallelize_for_compute(df)
    toks = F.split(F.col(text_col), " ")
    n_sh = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    total = F.when(n_sh >= 1, n_sh)
    distinct = F.when(n_sh >= 1, F.size(F.array_distinct(grams)))
    return df.select(
        "doc_id",
        total.cast("long").alias("n_grams"),
        distinct.cast("long").alias("n_distinct_grams"),
        F.round(1 - distinct / total, 6).alias("repetition_ratio"),
    )


def benchmark_overlap(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Decontamination: flag corpus documents sharing at least
    ``min_overlap`` distinct word ``n``-grams with a benchmark/eval
    set — the overlap check every training corpus runs before a model
    is evaluated on public benchmarks.

    Scale shape: the benchmark is usually orders of magnitude smaller
    than the corpus, but its distinct-shingle volume is DATA-DEPENDENT
    (a consortium eval suite with long contexts can reach GBs of
    n-grams), so the join strategy is left to AQE: runtime statistics
    pick a broadcast when the shingle set is genuinely small and fall
    back to a shuffle join when it is not — the same policy as the
    minhash verify join (dedup_fuzzy.py).  Either way the corpus is
    scanned once and only (doc_id, hit) pairs reach the count
    shuffle."""
    def shingles(frame: DataFrame):
        # flat MULTISET n-gram rows (r11): the per-row array build
        # (`transform` + `array_distinct`, both interpreted) was the
        # dominant corpus-side expression; the per-doc dedup the
        # overlap count needs moves to a distinct AFTER the benchmark
        # join below, where only matching grams remain
        toks = F.split(F.col(text_col), " ")
        base = frame.select(
            "doc_id", toks.alias("_toks")
        ).filter(F.size("_toks") >= n)
        n_sh = F.size("_toks") - (n - 1)
        seq = F.when(n_sh >= 1, F.sequence(F.lit(1), n_sh)).otherwise(
            F.expr("CAST(array() AS array<int>)")
        )
        return base.select(
            "doc_id", F.explode(seq).alias("_i"), "_toks"
        ).select(
            "doc_id",
            F.concat_ws(
                " ", F.slice(F.col("_toks"), F.col("_i"), n)
            ).alias("gram"),
        )

    bench_grams = benchmark.transform(shingles).select("gram").distinct()
    hits = (
        shingles(df)
        .join(bench_grams, "gram")
        # per-doc distinct AFTER the (selective) benchmark semi-join:
        # identical n_overlap — a doc's duplicate occurrences of one
        # matching gram collapse here exactly as array_distinct did
        # before the join — but the dedup shuffle carries only
        # benchmark-matching grams, never the corpus's gram stream
        .select("doc_id", "gram")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        df.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_overlap).alias(
                "contaminated"
            ),
        )
    )


def corpus_stats(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Datasheet aggregation: the per-slice summary every corpus
    release ships (Datasheets for Datasets, Gebru et al. 2021) —
    document / token / character volumes and the exact-duplicate
    rate per (source, lang) slice.

    One scan, one partial->final aggregation: every measure combines
    map-side (counts, sums, and a distinct-count rewritten by
    Catalyst into a two-stage expand+agg), so the shuffle carries
    one row per slice per partition regardless of corpus size.  The
    md5 distinct-count is exact; swap in ``approx_count_distinct``
    when a 2% error is acceptable and the corpus is 100 TB.
    """
    toks = F.split(F.col(text_col), " ")
    return df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(text_col)).alias("n_unique_docs"),
        F.sum(F.length(text_col)).alias("total_chars"),
        F.round(F.avg(F.length(text_col)), 2).alias("avg_chars"),
        F.sum(F.size(toks).cast("long")).alias("total_tokens"),
        F.round(F.avg(F.size(toks)), 2).alias("avg_tokens"),
    )


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stop_hits: int = 2,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
) -> DataFrame:
    """Gopher-style repetition-free document quality rules (Rae et
    al. 2021, "Scaling Language Models: ... Gopher", Table A1) as one
    codegen'd per-row map — the published rule set most corpus
    pipelines (MassiveText, RefinedWeb, Dolma) start from:

    - ``words_ok``      — word count in [min_words, max_words]
    - ``mean_len_ok``   — mean word length in [min_mean_word_len,
      max_mean_word_len] (kills OCR noise and minified blobs)
    - ``stop_ok``       — at least ``min_stop_hits`` stopword hits
      (natural prose contains function words)
    - ``symbol_ok``     — '#' / '...' symbol-to-word ratio at most
      ``max_symbol_ratio`` (kills markup and ellipsis spam)
    - ``alpha_ok``      — at least ``min_alpha_frac`` of words
      contain an alphabetic character (kills number tables)
    - ``keep``          — conjunction of all five

    Scale: zero shuffle — pure whole-stage-codegen expressions over
    one scan, embarrassingly parallel at 100 TB.  Word splitting is
    whitespace-run based (``\\s+`` on the trimmed text) so multiple
    spaces / newlines don't inflate counts; mean word length is
    (non-whitespace chars) / words, exact and engine-portable.  The
    repetition-based Gopher rules (duplicate line / paragraph
    fractions) live in :func:`repetition_stats`; the two families
    compose with a join on ``doc_id``.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_words = F.size(toks)
    non_ws_chars = F.length(
        F.regexp_replace(F.col(text_col), r"\s+", "")
    )
    mean_len = F.round(non_ws_chars / n_words, 6)
    stop_hits = _stop_hits(toks)
    # symbol hits: '#' occurrences + '...' (ellipsis) occurrences —
    # counted by length arithmetic so no regex engine disagreement.
    hash_hits = F.length(text_col) - F.length(
        F.regexp_replace(F.col(text_col), "#", "")
    )
    ellipsis_hits = (
        F.length(text_col)
        - F.length(F.regexp_replace(F.col(text_col), r"\.\.\.", ""))
    ) / 3
    symbol_ratio = F.round((hash_hits + ellipsis_hits) / n_words, 6)
    alpha_frac = F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))) / n_words, 6
    )
    out = df.select(
        id_col,
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        stop_hits.alias("stop_hits"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_frac"),
    )
    words_ok = (F.col("n_words") >= min_words) & (
        F.col("n_words") <= max_words
    )
    mean_ok = (F.col("mean_word_len") >= min_mean_word_len) & (
        F.col("mean_word_len") <= max_mean_word_len
    )
    stop_ok = F.col("stop_hits") >= min_stop_hits
    sym_ok = F.col("symbol_ratio") <= max_symbol_ratio
    alpha_ok = F.col("alpha_frac") >= min_alpha_frac
    return out.select(
        "*",
        words_ok.alias("words_ok"),
        mean_ok.alias("mean_len_ok"),
        stop_ok.alias("stop_ok"),
        sym_ok.alias("symbol_ok"),
        alpha_ok.alias("alpha_ok"),
        (words_ok & mean_ok & stop_ok & sym_ok & alpha_ok).alias("keep"),
    )


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **rule_kwargs,
) -> DataFrame:
    """Documents passing every :func:`gopher_quality_flags` rule —
    the filter form (left-semi back onto the full rows, so the text
    and any carried columns survive; the flags frame itself is the
    audit form)."""
    kept = gopher_quality_flags(
        df, text_col, id_col, **rule_kwargs
    ).filter("keep")
    return df.join(kept.select(id_col), id_col, "left_semi")
