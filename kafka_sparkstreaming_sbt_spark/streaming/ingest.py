"""Streaming dedup-on-ingest: the incremental near-dup screen
(``operators.dedup_fuzzy.incremental_near_dup``) run per micro-batch
against a static corpus PLUS everything accepted by earlier batches —
the continuous form of the daily-ingest example
(``examples/incremental_ingest.py``), and the production pattern for
"don't let duplicates into the lake in the first place".

Design for the micro-batch engine:

- **foreachBatch, not custom state**: the dedup decision needs joins
  against an unbounded, growing corpus — exactly what the state store
  is wrong for (per-key state, not relational screens).  foreachBatch
  gives every micro-batch full batch-DataFrame semantics, so the
  screen IS the batch operator, unchanged.
- **accepted rows accumulate in the lake, partitioned by batch id**
  (``accepted_dir/batch_id=N``): batch N screens against the static
  corpus UNION partitions ``batch_id < N``.  The strict inequality is
  the restart-correctness contract — on checkpoint replay of batch N,
  its own half-written output is EXCLUDED from the corpus side, and
  the ``mode("overwrite")`` per-partition write makes the replay
  idempotent (the standard foreachBatch exactly-once recipe).
- **within-batch dups** are dropped by the keep-smallest-id rule over
  the batch's own near-dup pairs, so two copies arriving in one
  trigger can't both slip in.

One trigger body (``_Lake.trigger``) serves all three drivers.  It
checkpoints and counts the incoming batch ONCE, then runs the gates
and screens reject-cheapest-first, each on the survivors of the last:

    drift -> quality -> exact -> span -> near_dup -> semantic
          -> write -> increments

(profile scan, broadcast-join score, hash screen, window excision,
shingle bucket-join, in-cell vector scan).  A stage runs only when its
model or artifact dir is configured; the text stages need a text
corpus, the semantic stage ``cells_dir``.  ``write`` is the one
accepted-partition overwrite, and ``increments`` derive every artifact
increment from the same materialized ``kept`` frame, so no artifact
asserts a row the lake doesn't hold.

Scale shape: per-trigger cost is |batch| x local-neighborhood (the
incremental screen's contract — bucket-join vs corpus signatures,
candidate-only corpus re-shingle), never corpus x corpus.  With
``signature_dir`` set the corpus-side banded keys are a MATERIALIZED
lake artifact: the static corpus's table is built once at pipeline
start (``materialize_corpus_signatures``) and every batch appends only
its accepted rows' keys — the append-only maintenance discipline
``banded_signature_table`` documents, under the same ``batch_id=N``
partition layout and strict-inequality replay contract as the accepted
rows themselves.  Without it the signatures are recomputed per batch
(self-containment for toy corpora).

Every artifact that is REPLACED rather than appended to goes through
one staged-generation protocol (``_Generation``), single-writer and
crash-safe without a transaction log.  The next generation is staged
under a hidden ``_``-dir (invisible to parquet listings) and its
commit record is written LAST.  Commit then drops the incr partitions
``batch_id < M`` the generation covers, deletes the old live dir,
does ONE rename and drops the staging root; every step is idempotent.
Recovery, which MUST run before anything reads the lake, re-runs the
commit of a staged generation that has its commit record and drops
one that has none:

=============  =========================  ==================  =========  ====================
generation     staging                    live                record     covers
=============  =========================  ==================  =========  ====================
compaction     ``<dir>/_compact/upto=M``  ``<dir>/batch_id``  _SUCCESS   ``<dir>/batch_id<M``
               (any ``batch_id=N`` dir)   ``=M-1``
quality model  ``_rebuild/upto=M``        ``current``         _UPTO=M    —
quantizer      ``_rebuild/upto=M``        ``quantizer``       _UPTO=M    ``incr``
=============  =========================  ==================  =========  ====================

Paths are relative to ``quality_dir`` and ``cells_dir``.  ``_UPTO=M``
is a marker file touched inside the generation dir.  ``_Lake`` runs
the whole lifecycle for the drivers:
recovery and materialization at start, the ``compact_every`` fold,
the drift HOLD, release-partition deletes and the stream start.

Every artifact read declares its schema (``sources.batch.read_parquet``;
each ``_*_SCHEMA`` sits next to its writer, with id columns in the
corpus's id type), and ``batch_id`` partitions are read in their union
partner's schema, so a trigger runs no schema-inference job.  Only
reads of rows whose shape is the stream's infer: compaction folds, a
held batch, and the accepted lake in ``rebuild_drift_baseline``.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, fields

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from kafka_sparkstreaming_sbt_spark.schemas import columns
from kafka_sparkstreaming_sbt_spark.sources.batch import read_parquet

_LONG, _STRING, _DOUBLE = T.LongType(), T.StringType(), T.DoubleType()


def _checkpoint_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """Eager ``localCheckpoint`` of ``df`` and its row count.  The
    count is an ``Observation`` on the checkpoint's own job: a
    ``count()`` of the checkpoint costs two more jobs under AQE (a
    shuffle-map job and a result job)."""
    obs = Observation()
    ckpt = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    return ckpt, obs.get["n"]


@contextmanager
def _staged(stage_sec: dict | None, name: str):
    """Accumulate wall seconds for one screen stage into
    ``stage_sec[name]`` (no-op when ``stage_sec`` is None — the
    default; profiling adds zero overhead unless asked for).  Stage
    boundaries sit on the screens' existing EAGER materialization
    points (localCheckpoint / write / count), so the attribution
    matches where Spark actually executes each lazy sub-plan —
    enabling it never adds actions or changes any plan."""
    if stage_sec is None:
        yield
        return
    t0 = time.perf_counter()
    try:
        yield
    finally:
        stage_sec[name] = round(
            stage_sec.get(name, 0.0) + time.perf_counter() - t0, 3
        )


def _prior_partitions(
    spark, path: str, before_batch: int, schema: T.StructType | None
) -> DataFrame | None:
    """Partitions of a ``batch_id=N``-layout parquet dir STRICTLY
    before ``before_batch`` (replay safety), None when nothing exists
    yet.  ``schema`` declares the partitions' data columns (None
    infers them, one Spark job).  The listing comes first: once the
    session has used an ``Observation``, Spark's observation listener
    logs every read that fails analysis at ERROR."""
    if not _list_batch_ids(spark, path):
        return None
    if schema is not None:
        schema = columns(
            *((f.name, f.dataType) for f in schema), ("batch_id", _LONG)
        )
    try:
        prior = read_parquet(spark, path, schema)
    except AnalysisException:
        return None
    if "batch_id" not in prior.columns:  # empty dir edge
        return None
    return prior.filter(F.col("batch_id") < before_batch).drop("batch_id")


def _with_prior(df: DataFrame, path: str, before_batch: int) -> DataFrame:
    """``df`` UNION the partitions of ``path`` strictly before
    ``before_batch`` (:func:`_prior_partitions`), read with ``df``'s
    schema: the partitions hold rows of the same shape as ``df``."""
    prior = _prior_partitions(df.sparkSession, path, before_batch, df.schema)
    return df if prior is None else df.unionByName(prior)


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path-class) for ``path``'s scheme — the listing /
    rename primitives the lake maintenance below is built on."""
    P = spark._jvm.org.apache.hadoop.fs.Path
    return P(path).getFileSystem(spark._jsc.hadoopConfiguration()), P


def _list_batch_ids(spark, path: str) -> list[int]:
    """Committed ``batch_id=K`` partition values under ``path`` from
    one FileSystem listing (no data scan)."""
    fs, P = _hadoop_fs(spark, path)
    if not fs.exists(P(path)):
        return []
    out = []
    for st in fs.listStatus(P(path)):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch_id="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


def _marker(spark, path: str, prefix: str) -> int | None:
    """K of the ``<prefix>=K`` marker file directly under ``path``
    (None when absent).  Markers sit only in dirs that hold sub-dirs,
    never inside a parquet dir: Spark's file index keeps ``_``-names
    that contain ``=`` (the partition-dir convention) and would
    footer-read the marker as data."""
    fs, P = _hadoop_fs(spark, path)
    if not fs.exists(P(path)):
        return None
    for st in fs.listStatus(P(path)):
        name = st.getPath().getName()
        if name.startswith(f"{prefix}="):
            return int(name.split("=", 1)[1])
    return None


def _quantizer_upto(spark, generation_dir: str) -> int | None:
    """The ``_UPTO=K`` marker of a generation dir — the batches it
    covers.  None when the generation is absent or incomplete: the
    marker is written LAST, so it doubles as the build-complete
    flag."""
    return _marker(spark, generation_dir, "_UPTO")


def _touch(spark, path: str) -> None:
    fs, P = _hadoop_fs(spark, path)
    fs.create(P(path), True).close()


def _success_marker_exists(spark, path: str) -> bool:
    """True iff Spark's output committer finished ``path`` — the
    ``_SUCCESS`` marker, checked through the Hadoop FileSystem API so
    it works on any scheme (local, HDFS, s3a).  A merely-readable
    parquet dir is NOT completion evidence: a crash mid-overwrite
    leaves a partial dir whose files still read fine."""
    fs, P = _hadoop_fs(spark, path)
    return bool(fs.exists(P(f"{path}/_SUCCESS")))


def _unpersist(frames) -> None:
    for df in frames:
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — not a frame, stale session
            pass


#: Session cache of COMMITTED ``_UPTO`` generations (the quantizer's
#: centroids/base/quality, the quality model): frozen for a
#: generation's whole lifetime, so no trigger re-reads them from the
#: lake.  Keyed on the live dir, with (upto, application id) as the
#: entry's generation key: a committed rebuild bumps the marker and
#: misses, and a new SparkSession never sees another application's
#: checkpointed frames.  Evicts the least recently used entry first.
#: This caches LAKE ARTIFACTS only — per-trigger inputs are never
#: cached, and every bench probe builds its lake in a fresh tempdir.
_GENERATION_CACHE: dict[str, tuple] = {}
_GENERATION_CACHE_MAX = 4


@dataclass
class _Generation:
    """One artifact's staged-generation protocol (module docstring
    table).  ``live=None``: the generation lands as ``incr``'s own
    ``batch_id=M-1`` partition (compaction folds a dir into itself)
    and its commit record is the committer's ``_SUCCESS``; every
    generation with a live dir commits with ``_UPTO=M``."""

    spark: object
    root: str
    live: str | None = None
    incr: str | None = None

    def staging(self, upto: int) -> str:
        return f"{self.root}/upto={upto}"

    def _committed(self, staged: str) -> bool:
        if self.live is None:
            return _success_marker_exists(self.spark, staged)
        return _quantizer_upto(self.spark, staged) is not None

    def drop_covered(self, upto: int | None) -> None:
        if not upto or self.incr is None:
            return
        fs, P = _hadoop_fs(self.spark, self.incr)
        for k in _list_batch_ids(self.spark, self.incr):
            if k < upto:
                fs.delete(P(f"{self.incr}/batch_id={k}"), True)

    def commit(self, upto: int) -> None:
        """Idempotent from any crash point, so recovery re-runs it."""
        fs, P = _hadoop_fs(self.spark, self.root)
        staging = P(self.staging(upto))
        if fs.exists(staging):
            self.drop_covered(upto)
            live = P(self.live or f"{self.incr}/batch_id={upto - 1}")
            fs.delete(live, True)
            fs.rename(staging, live)
        fs.delete(P(self.root), True)

    def recover(self) -> None:
        """Roll a staged generation WITH its commit record forward;
        drop one without it (the old live dir is intact).  Then
        re-apply an ``_UPTO`` generation's covered-incr deletes: a lake
        whose commit renamed before dropping them can hold stale incr
        partitions past a crash."""
        fs, P = _hadoop_fs(self.spark, self.root)
        if fs.exists(P(self.root)):
            for st in fs.listStatus(P(self.root)):
                name = st.getPath().getName()
                if name.startswith("upto=") and self._committed(
                    f"{self.root}/{name}"
                ):
                    self.commit(int(name.split("=", 1)[1]))
                    break
            fs.delete(P(self.root), True)
        if self.live is not None:
            self.drop_covered(_quantizer_upto(self.spark, self.live))

    def load(self, loader: Callable[[str], tuple]) -> tuple:
        """``loader(live)`` of the committed ``_UPTO`` generation,
        cached per generation (``_GENERATION_CACHE``).  An incomplete
        generation is served uncached (recovery paths)."""
        key = (
            _quantizer_upto(self.spark, self.live),
            self.spark.sparkContext.applicationId,
        )
        hit = _GENERATION_CACHE.pop(self.live, None)
        if hit is not None and hit[0] == key:
            _GENERATION_CACHE[self.live] = hit  # now most recent
            return hit[1]
        if hit is not None:
            _unpersist(hit[1])
        tables = loader(self.live)
        if key[0] is None:
            return tables
        while len(_GENERATION_CACHE) >= _GENERATION_CACHE_MAX:
            oldest = next(iter(_GENERATION_CACHE))
            _unpersist(_GENERATION_CACHE.pop(oldest)[1])
        _GENERATION_CACHE[self.live] = (key, tables)
        return tables


def _compaction(spark, path: str) -> _Generation:
    return _Generation(spark, f"{path}/_compact", incr=path)


def compact_batch_partitions(
    spark,
    path: str,
    upto_batch: int,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int | None:
    """Fold the ``batch_id < upto_batch`` partitions of a streaming-
    fed lake dir into ONE consolidated partition labeled
    ``batch_id = upto_batch - 1`` — the maintenance pass that keeps
    the ingest screen's trigger planning bounded: without it the lake
    gains one partition (and its file-listing + union cost) per
    micro-batch FOREVER, and after months of triggers the
    ``batch_id < N`` corpus read dominates every trigger.

    The relabel preserves the strict-inequality replay contract
    exactly: every folded row came from a batch the checkpoint has
    already committed (the caller compacts only ``upto_batch <=``
    the batch currently being replayed), so for any batch N that can
    still replay, ``consolidated label < upto_batch <= N`` keeps the
    folded rows on the corpus side — and batch N's OWN partition is
    never folded, so its overwrite-replay still works.

    Crash-safe without a transaction log, single-writer (the
    foreachBatch loop IS the only writer), through the staged-
    generation protocol (module docstring; underscore paths are
    invisible to parquet listings) — so :func:`recover_compaction`
    MUST run at pipeline start, before any screen reads the lake.
    File count of the consolidated partition is sized from the
    FileSystem listing (``ceil(bytes / target_file_bytes)``), the
    same discipline as ``sources.files.compact_parquet``.

    Returns the consolidated partition's file count, or None when
    there is nothing to fold (0 or 1 covered partitions).
    """
    import math

    gen = _compaction(spark, path)
    gen.recover()
    covered = [k for k in _list_batch_ids(spark, path) if k < upto_batch]
    if len(covered) <= 1:
        return None
    fs, P = _hadoop_fs(spark, path)
    total_bytes = sum(
        fs.getContentSummary(P(f"{path}/batch_id={k}")).getLength()
        for k in covered
    )
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    # any batch_id dir, accepted rows included: its shape is the
    # caller's, so the one read per fold infers it
    (
        _prior_partitions(spark, path, upto_batch, None)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(gen.staging(upto_batch))
    )
    gen.commit(upto_batch)
    return n_files


def recover_compaction(spark, path: str) -> None:
    """Finish (or roll back) a compaction interrupted by a crash —
    run at pipeline start, BEFORE any screen reads ``path``."""
    _compaction(spark, path).recover()


def materialize_corpus_signatures(
    corpus_docs: DataFrame,
    signature_dir: str,
    shingle_n: int = 3,
    n_bands: int = 8,
) -> None:
    """One-time base artifact for the streaming screen: the static
    corpus's banded MinHash keys at ``signature_dir/base``.  Runs
    once per pipeline deployment — after this, no micro-batch ever
    re-shingles the static corpus.  The skip is gated on the
    committer's ``_SUCCESS`` marker, NOT on the dir being readable:
    a crash mid-write leaves a partial dir that still reads, and a
    screen running against partial signatures silently admits every
    duplicate of the missing docs.  A partial dir (no marker) is
    simply rebuilt — ``mode("overwrite")`` makes the retry safe.

    The key values are versioned: ``signature_dir/_FORMAT=<n>``
    (``_SIGNATURE_FORMAT``) is written LAST and vouches for base AND
    incr.  Keys of another format never equal a live batch's keys, so
    the screen would silently admit duplicates of every stored doc.
    An older-format ``incr`` can only be rebuilt from the accepted
    lake, which the pipeline start does; called alone on such a dir,
    this refreshes ``base`` and leaves the marker off."""
    _materialize_signatures(corpus_docs, signature_dir, shingle_n, n_bands)


def _signature_schema(id_type: T.DataType) -> T.StructType:
    """``signature_dir/{base,incr}``: ``(doc_id, bs)`` banded keys, in
    the corpus's doc id type."""
    return columns(("doc_id", id_type), ("bs", _LONG))


#: Version of the banded bucket-key values in ``signature_dir``.  Bump
#: it whenever ``dedup_fuzzy.banded_bucket_keys`` changes the keys it
#: emits for the same text: 1 = xxhash64 over the parsed long band
#: minima (unversioned dirs hold the earlier hex-substring keys).
_SIGNATURE_FORMAT = 1


def _materialize_signatures(
    corpus_docs: DataFrame,
    signature_dir: str,
    shingle_n: int,
    n_bands: int,
    accepted_dir: str | None = None,
) -> None:
    """:func:`materialize_corpus_signatures`.  A missing or different
    format marker drops the whole dir and rebuilds it when
    ``accepted_dir`` is given (``incr`` from the accepted lake, one
    partition per accepted ``batch_id``) or there is no ``incr`` to
    lose.  The marker goes last, so a crash mid-rebuild just rebuilds
    again."""
    from kafka_sparkstreaming_sbt_spark.operators.dedup_fuzzy import (
        banded_signature_table,
    )

    spark = corpus_docs.sparkSession
    base = f"{signature_dir}/base"
    current = (
        _marker(spark, signature_dir, "_FORMAT") == _SIGNATURE_FORMAT
    )
    if current and _success_marker_exists(spark, base):
        return  # already materialized by an earlier deployment
    fs, P = _hadoop_fs(spark, signature_dir)
    rekey = not current and (
        accepted_dir is not None
        or not fs.exists(P(f"{signature_dir}/incr"))
    )
    if rekey:
        fs.delete(P(signature_dir), True)
        accepted_ids = (
            _list_batch_ids(spark, accepted_dir) if accepted_dir else []
        )
        rows = corpus_docs.select("doc_id", "text").schema
        for k in accepted_ids:
            banded_signature_table(
                read_parquet(spark, f"{accepted_dir}/batch_id={k}", rows),
                shingle_n=shingle_n, n_bands=n_bands,
                compute_partitions=4,
            ).write.mode("overwrite").parquet(
                f"{signature_dir}/incr/batch_id={k}"
            )
    banded_signature_table(
        corpus_docs, shingle_n=shingle_n, n_bands=n_bands
    ).write.mode("overwrite").parquet(base)
    if rekey:
        _touch(spark, f"{signature_dir}/_FORMAT={_SIGNATURE_FORMAT}")


#: ``span_dir/{base,incr}``: distinct window hashes
_WINDOW_HASH_SCHEMA = columns(("wh", _STRING))


def materialize_corpus_window_hashes(
    corpus_docs: DataFrame,
    span_dir: str,
    window_tokens: int = 16,
) -> None:
    """One-time base artifact for the streaming ExactSubstr span
    stage: the static corpus's DISTINCT window-hash set
    (:func:`~..operators.chunking.window_hash_table`) at
    ``span_dir/base`` — after this, no micro-batch ever re-windows
    the static corpus.  Same ``_SUCCESS``-gated skip discipline as
    :func:`materialize_corpus_signatures`: a partial table would
    silently admit duplicated spans of the missing windows."""
    from kafka_sparkstreaming_sbt_spark.operators.chunking import (
        window_hash_table,
    )

    spark = corpus_docs.sparkSession
    base = f"{span_dir}/base"
    if _success_marker_exists(spark, base):
        return
    window_hash_table(
        corpus_docs, window_tokens=window_tokens
    ).write.mode("overwrite").parquet(base)


#: ``drift_dir/baseline``: ``profile_columns`` rows, one per column
_PROFILE_SCHEMA = columns(
    ("column", _STRING), ("n_rows", _LONG), ("n_null", _LONG),
    ("n_distinct", _LONG), ("min_value", _STRING), ("max_value", _STRING),
)


def materialize_drift_baseline(
    corpus_docs: DataFrame,
    drift_dir: str,
    cols: tuple[str, ...] = ("text",),
) -> None:
    """One-time baseline artifact for the drift HOLD: the static
    corpus's column profile at ``drift_dir/baseline`` (one row per
    profiled column).  Same ``_SUCCESS``-gated skip discipline as
    every other lake artifact here — a partial baseline would make
    every subsequent drift verdict garbage."""
    from kafka_sparkstreaming_sbt_spark.operators.profile import (
        profile_columns,
    )

    spark = corpus_docs.sparkSession
    base = f"{drift_dir}/baseline"
    if _success_marker_exists(spark, base):
        return
    profile_columns(corpus_docs, list(cols)).write.mode(
        "overwrite"
    ).parquet(base)


def _batch_drift_alarms(
    baseline_profile: DataFrame,
    batch_df: DataFrame,
    cols: tuple[str, ...],
    null_jump: float,
    distinct_drop: float,
) -> list[str]:
    """Alarm list for one micro-batch vs the corpus baseline —
    ``profile_drift`` filtered to the feed-breakage classes: schema
    drift, null-rate jump, distinct-rate collapse.  Range shifts are
    NOT alarms (new docs legitimately extend ranges every batch).
    The batch profile costs one scan + one bounded distinct pass per
    profiled column; the drift join is |cols| rows."""
    from kafka_sparkstreaming_sbt_spark.operators.profile import (
        profile_columns,
        profile_drift,
    )

    drift = profile_drift(
        baseline_profile,
        profile_columns(batch_df, list(cols)),
        null_jump=null_jump,
        distinct_drop=distinct_drop,
    ).collect()
    alarms = []
    for r in drift:
        if r.status != "present":
            alarms.append(f"{r.column}:{r.status}")
        if r.null_jump_flag == 1:
            alarms.append(f"{r.column}:null_jump")
        if r.distinct_collapse_flag == 1:
            alarms.append(f"{r.column}:distinct_collapse")
    return alarms


# ------------------------------------------------ exact prefilter --
#
# Most duplicates a crawl delivers are EXACT copies; shingling them
# through the near-dup screen pays the expensive path for rows a
# content-hash lookup would have killed.  The exact prefilter drops
# them first (reject-cheapest-first, same ordering argument as the
# quality screen) with one anti-join against a materialized lake
# artifact under ``exact_dir``, maintained with the SAME batch_id
# layout and strict-inequality replay contract as everything else
# here:
#
#   hashes/base             (h,) md5 of every static-corpus text
#   hashes/incr/batch_id=N  md5 of batch N's accepted texts
#
# Per trigger the batch anti-joins on ``md5(text)`` against base plus
# the incr partitions < N, so the screen is exact and never rescans
# corpus text; survivors still flow through the near-dup screen,
# which is what catches non-exact duplicates.


#: ``exact_dir/hashes/{base,incr}``: md5 of each text
_HASHES_SCHEMA = columns(("h", _STRING))


def materialize_exact_screen(corpus_docs: DataFrame, exact_dir: str) -> None:
    """One-time base artifact for the exact prefilter: the static
    corpus's content-hash table, ``_SUCCESS``-gated like the signature
    base (a readable-but-partial dir is rebuilt)."""
    spark = corpus_docs.sparkSession
    hashes_base = f"{exact_dir}/hashes/base"
    if not _success_marker_exists(spark, hashes_base):
        corpus_docs.select(
            F.md5("text").alias("h")
        ).write.mode("overwrite").parquet(hashes_base)


def exact_screen_batch(
    batch_df: DataFrame, batch_id: int, exact_dir: str
) -> DataFrame:
    """Drop batch rows whose text is an EXACT copy of anything in the
    corpus-as-of-batch N (static + accepted < N): one ``left_anti``
    join on ``md5(text)`` against the materialized hash table."""
    spark = batch_df.sparkSession
    hashes = _with_prior(
        read_parquet(spark, f"{exact_dir}/hashes/base", _HASHES_SCHEMA),
        f"{exact_dir}/hashes/incr", batch_id,
    )
    return batch_df.join(
        hashes, F.md5(batch_df["text"]) == hashes["h"], "left_anti"
    )


def screen_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_docs: DataFrame,
    accepted_dir: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    n_bands: int = 8,
    signature_dir: str | None = None,
    exact_dir: str | None = None,
    corpus_upto: int | None = None,
    span_dir: str | None = None,
    span_window_tokens: int = 16,
) -> tuple[int, int]:
    """One micro-batch of the ingest screen (the trigger's screen
    body, exposed for direct testing of the replay contract): screen
    ``batch_df`` against the static corpus + accepted partitions
    STRICTLY before ``batch_id``, write survivors idempotently to
    ``accepted_dir/batch_id=N``.  Returns (n_batch, n_accepted) —
    n_batch counts rows ENTERING this screen (before the optional
    exact prefilter).

    ``corpus_upto`` decouples the corpus cutoff from the partition
    id when they must differ — the held-batch release path screens
    against the ENTIRE lake (cutoff effectively +inf) while writing
    to its own negative release partition.  Default (None) keeps the
    streaming contract: cutoff == batch_id.

    With ``exact_dir`` (see :func:`materialize_exact_screen`) exact
    copies of corpus/accepted content are dropped FIRST by one hash
    anti-join (:func:`exact_screen_batch`), so the expensive
    shingle/bucket-join path only ever sees content that is at most
    a NEAR duplicate.

    With ``signature_dir`` (see :func:`materialize_corpus_signatures`)
    the corpus side of the bucket join reads MATERIALIZED banded keys
    — ``signature_dir/base`` for the static corpus plus
    ``signature_dir/incr/batch_id<N`` for earlier accepted batches —
    and each batch appends its own accepted rows' signatures, so
    per-trigger cost never includes re-shingling the corpus.  Corpus
    TEXT is still consulted, but only for candidate pairs (the
    operator's semi-join prune).

    With ``span_dir`` (see :func:`materialize_corpus_window_hashes`)
    the batch additionally passes the ExactSubstr duplicated-span
    EXCISION stage (between the exact and near-dup screens): every
    ``span_window_tokens``-token window already present in the
    corpus/accepted window-hash table — or shared by >= 2 batch docs
    — is excised from the batch's text, docs emptied by excision are
    dropped, and each accepted partition appends its own windows'
    hashes as ``span_dir/incr/batch_id=N`` (the signature-table
    contract: strict-cutoff reads, idempotent per-partition
    overwrites, compaction-foldable)."""
    lake = _Lake.of(batch_df.sparkSession, locals())
    batch, n_in = lake.checkpoint(batch_df)
    return n_in, lake.screen(batch, batch_id, corpus_upto)


def _screen_text_core(
    batch_df: DataFrame,
    cutoff: int,
    corpus_docs: DataFrame,
    accepted_dir: str,
    threshold: float,
    shingle_n: int,
    n_bands: int,
    signature_dir: str | None,
    exact_dir: str | None,
    span_dir: str | None = None,
    span_window_tokens: int = 16,
    stage_sec: dict | None = None,
) -> DataFrame:
    """The text leg of the one screen body (:meth:`_Lake.screen`):
    the accepted (doc_id, text) rows of a MATERIALIZED batch as a lazy
    frame.  The batch feeds three consumers (corpus screen, self-pair
    screen, final anti-join), so it must not replay its source.
    ``stage_sec`` (optional) accumulates per-stage wall seconds at
    the eager stages (exact / span); the near-dup plan returned here
    is lazy, so its cost lands wherever the caller materializes."""
    from kafka_sparkstreaming_sbt_spark.operators.dedup_fuzzy import (
        incremental_near_dup,
        minhash_near_dup_pairs,
    )

    spark = batch_df.sparkSession
    batch_df = batch_df.select("doc_id", "text")
    corpus = _with_prior(
        corpus_docs.select("doc_id", "text"), accepted_dir, cutoff
    )
    corpus_sigs = None
    if signature_dir is not None:
        corpus_sigs = _with_prior(
            read_parquet(
                spark, f"{signature_dir}/base",
                _signature_schema(corpus_docs.schema["doc_id"].dataType),
            ),
            f"{signature_dir}/incr", cutoff,
        )
    if exact_dir is not None:
        # exact copies die here (cheap); survivors re-materialize so
        # the three near-dup consumers don't replay the hash screen
        # (the cutoff, not the partition id, bounds what it reads)
        with _staged(stage_sec, "exact"):
            batch_df = exact_screen_batch(
                batch_df, cutoff, exact_dir
            ).localCheckpoint(eager=True)
    if span_dir is not None:
        # ExactSubstr stage: excise windows already in the corpus/
        # accepted window-hash table (strict-cutoff read, like the
        # signature incrs) or shared within the batch; docs emptied
        # by excision are dropped.  Runs AFTER the exact screen
        # (reject-cheapest-first) and BEFORE the near-dup screen, so
        # accepted text — and every artifact derived from the
        # accepted partition (signatures, hashes, window incrs) — is
        # the CLEANED text.
        from kafka_sparkstreaming_sbt_spark.operators.chunking import (
            remove_duplicate_spans_incremental,
        )

        hashes = _with_prior(
            read_parquet(spark, f"{span_dir}/base", _WINDOW_HASH_SCHEMA),
            f"{span_dir}/incr", cutoff,
        )
        with _staged(stage_sec, "span"):
            # exact copies within the batch share every window, so the
            # stage would excise all of them: first keep the smallest
            # id of each copy set, the survivor the near-dup
            # self-pair screen keeps
            first_copies = batch_df.groupBy("text").agg(
                F.min("doc_id").alias("doc_id")
            )
            batch_df = (
                remove_duplicate_spans_incremental(
                    first_copies,
                    corpus_hashes=hashes,
                    window_tokens=span_window_tokens,
                )
                .filter(F.length("clean_text") > 0)
                .select("doc_id", F.col("clean_text").alias("text"))
                .localCheckpoint(eager=True)
            )
    vs_corpus = (
        incremental_near_dup(
            batch_df,
            corpus,
            shingle_n=shingle_n,
            n_bands=n_bands,
            threshold=threshold,
            corpus_signatures=corpus_sigs,
        )
        .select(F.col("new_doc_id").alias("doc_id"))
        .distinct()
    )
    # within-batch: keep the smallest id of every near-dup pair.
    # persist_shingles=False: this runs once per TRIGGER in a
    # long-lived query, and the operator's internal cache can never
    # be unpersisted from here — each call would leak a dead cache
    # entry; the batch is small and checkpointed, so the re-shingle
    # per branch is bounded.
    self_pairs = minhash_near_dup_pairs(
        batch_df,
        shingle_n=shingle_n,
        n_bands=n_bands,
        threshold=threshold,
        persist_shingles=False,
    ).select(F.col("doc_b").alias("doc_id")).distinct()
    accepted = batch_df.join(
        vs_corpus.unionByName(self_pairs).distinct(),
        "doc_id",
        "left_anti",
    )
    return accepted


def _write_text_increments(
    accepted_rows: DataFrame,
    batch_id: int,
    shingle_n: int,
    n_bands: int,
    signature_dir: str | None,
    exact_dir: str | None,
    span_dir: str | None,
    span_window_tokens: int,
) -> None:
    """Signature/exact-screen maintenance for one ACCEPTED partition,
    same idempotent per-partition layout as the rows.
    ``accepted_rows`` is the MATERIALIZED, few-partition frame the
    partition was written from, so maintenance never touches the
    parquet and describes exactly the written rows.

    When two or more of the signature, exact-hash and window-hash
    builds are active, their plans are UNIONED and materialized in
    one Spark job; the per-path writes then just filter the
    materialized union (the 32-hex-char md5 and window hashes share
    the ``wh`` slot).  A single active build keeps the direct one-job
    derive-and-write shape."""
    from kafka_sparkstreaming_sbt_spark.operators.chunking import (
        window_hash_table,
    )
    from kafka_sparkstreaming_sbt_spark.operators.dedup_fuzzy import (
        banded_signature_table,
    )

    n_fused = sum(
        d is not None for d in (signature_dir, span_dir, exact_dir)
    )
    if n_fused == 0:
        return
    rows = accepted_rows.select("doc_id", "text")
    null = F.lit(None)
    null_id = null.cast(rows.schema["doc_id"].dataType).alias("doc_id")
    # (incr dir, derivation in the shared (doc_id, bs, wh) shape,
    # written columns) per active build
    builds = []
    if signature_dir is not None:
        # append-only signature maintenance: the accepted rows'
        # banded keys
        builds.append((
            f"{signature_dir}/incr",
            banded_signature_table(
                rows, shingle_n=shingle_n, n_bands=n_bands,
                compute_partitions=4,
            ).select("doc_id", "bs", null.cast("string").alias("wh")),
            ["doc_id", "bs"],
        ))
    if span_dir is not None:
        # the accepted rows' (cleaned) window hashes — membership is
        # all the incremental span screen tests, so overlap with the
        # base table across appends is harmless (dedup on compaction,
        # not on the write path)
        builds.append((
            f"{span_dir}/incr",
            window_hash_table(rows, window_tokens=span_window_tokens)
            .select(null_id, null.cast("long").alias("bs"), "wh"),
            ["wh"],
        ))
    if exact_dir is not None:
        # the accepted texts' md5 rows for the exact-screen hash
        # anti-join
        builds.append((
            f"{exact_dir}/hashes/incr",
            rows.select(
                null_id, null.cast("long").alias("bs"),
                F.md5("text").alias("wh"),
            ),
            [F.col("wh").alias("h")],
        ))
    frames = [frame for _, frame, _ in builds]
    if len(builds) > 1:
        # ONE job computes every derivation; the writes below are
        # cheap filters over the materialized union.  With a single
        # build the fused machinery (union checkpoint + filter-write)
        # would turn one Spark job into two.
        fused = frames[0].withColumn("kind", F.lit(0))
        for i, frame in enumerate(frames[1:], 1):
            fused = fused.unionByName(frame.withColumn("kind", F.lit(i)))
        fused = fused.localCheckpoint(eager=True)
        frames = [fused.filter(F.col("kind") == i) for i in range(n_fused)]
    for (incr, _, cols), frame in zip(builds, frames):
        frame.select(*cols).write.mode("overwrite").parquet(
            f"{incr}/batch_id={batch_id}"
        )


@dataclass
class _Lake:
    """The artifact lifecycle and the one trigger body that the three
    drivers, the three direct screens and :func:`release_held_batches`
    share, built from their own arguments (None = that stage is off).
    :meth:`open` recovers and materializes every artifact at pipeline
    start; :meth:`start` runs :meth:`trigger` per micro-batch."""

    spark: object
    accepted_dir: str
    corpus_docs: DataFrame | None = None
    corpus_emb: DataFrame | None = None
    signature_dir: str | None = None
    exact_dir: str | None = None
    span_dir: str | None = None
    cells_dir: str | None = None
    drift_dir: str | None = None
    threshold: float = 0.5
    shingle_n: int = 3
    n_bands: int = 8
    span_window_tokens: int = 16
    semantic_threshold: float = 0.9
    method: str = "sql"
    max_cell_size: int | None = None
    centroids: DataFrame | None = None
    n_cells: int | None = None
    vec_col: str = "embedding"
    #: the semantic stage's row key; ``doc_id`` whenever the text
    #: stages run too
    id_col: str = "vec_id"
    seed: int = 42
    #: semantic drift probe: None = off
    drift_threshold: float | None = None
    on_drift: Callable[[int, float], None] | None = None
    quality_model: DataFrame | None = None
    quality_threshold: float = 0.0
    quality_n_buckets: int = 1024
    quality_seed: int = 7
    quality_dir: str | None = None
    quality_negatives: DataFrame | None = None
    quality_drift_nats: float = 2.0
    on_quality_drift: Callable[[int, float], None] | None = None
    drift_cols: tuple[str, ...] = ("text",)
    drift_null_jump: float = 0.02
    drift_distinct_drop: float = 0.5
    on_hold: Callable[[int, list[str]], None] | None = None
    on_batch: Callable[[int, int, int], None] | None = None
    stage_sec: dict | None = None
    compact_every: int | None = None
    target_file_bytes: int = 128 * 1024 * 1024
    #: set by the drift probes: rebuild the quantizer / retrain the
    #: quality model at the START of the next trigger.  Driver-side
    #: only: a crash loses the flag, but the drift persists in the
    #: data and the next drifted batch sets it again.
    quantizer_stale: bool = False
    quality_stale: bool = False

    @classmethod
    def of(cls, spark, args: dict) -> _Lake:
        """The lake a caller configures: its fields are named after the
        callers' parameters, so a caller hands over ``locals()`` (taken
        before it binds any other name) and each field it lacks keeps
        its default."""
        names = {f.name for f in fields(cls)} & set(args) - {"spark"}
        return cls(spark, **{n: args[n] for n in names})

    def batch_dirs(self) -> list[str]:
        """Every ``batch_id=N``-partitioned dir."""
        dirs = [self.accepted_dir] + [
            f"{d}/incr"
            for d in (self.signature_dir, self.span_dir, self.cells_dir)
            if d is not None
        ]
        if self.exact_dir is not None:
            dirs.append(f"{self.exact_dir}/hashes/incr")
        return dirs

    def open(self) -> _Lake:
        spark, corpus_docs = self.spark, self.corpus_docs
        # finish any compaction or rebuild a crash interrupted BEFORE
        # the first screen reads the lake (the write-ahead recovery
        # contract)
        for d in self.batch_dirs():
            recover_compaction(spark, d)
        if self.cells_dir is not None:
            recover_semantic_quantizer(spark, self.cells_dir)
        if self.quality_dir is not None:
            recover_quality_model(spark, self.quality_dir)
        if self.signature_dir is not None:
            _materialize_signatures(
                corpus_docs, self.signature_dir, self.shingle_n,
                self.n_bands, self.accepted_dir,
            )
        if self.exact_dir is not None:
            materialize_exact_screen(corpus_docs, self.exact_dir)
        if self.span_dir is not None:
            materialize_corpus_window_hashes(
                corpus_docs, self.span_dir, self.span_window_tokens
            )
        if self.cells_dir is not None:
            materialize_semantic_quantizer(
                self.corpus_emb, self.cells_dir, self.centroids,
                self.n_cells, self.vec_col, self.id_col, self.seed,
            )
        if self.quality_dir is not None:
            materialize_quality_model(
                corpus_docs, self.quality_dir, self.quality_model,
                self.quality_n_buckets, self.quality_seed,
            )
            # pin the generation now, not inside the first trigger
            _load_quality_generation(spark, self.quality_dir)
            self.quality_negatives = self.quality_negatives.localCheckpoint(
                eager=True
            )
        elif self.quality_model is not None:
            # the model is read on every trigger: pin the tiny frame once
            self.quality_model = self.quality_model.localCheckpoint(
                eager=True
            )
        self.baseline = None
        if self.drift_dir is not None:
            materialize_drift_baseline(
                corpus_docs, self.drift_dir, self.drift_cols
            )
            # |cols| rows — pin once, read on every trigger
            self.baseline = read_parquet(
                spark, f"{self.drift_dir}/baseline", _PROFILE_SCHEMA
            ).localCheckpoint(eager=True)
        return self

    def maintain(self, batch_id: int) -> None:
        if self.quantizer_stale and batch_id > 0:
            rebuild_semantic_quantizer(
                self.corpus_emb, self.accepted_dir, self.cells_dir,
                batch_id, self.n_cells, self.vec_col, self.id_col,
                self.seed,
            )
            self.quantizer_stale = False
        if not (
            self.compact_every is not None
            and batch_id > 0
            and batch_id % self.compact_every == 0
        ):
            return
        # upto = the CURRENT batch id: everything strictly before it is
        # checkpoint-committed (this trigger is the only one that can
        # still replay), so the fold can never swallow a replayable
        # batch's own partition
        for d in self.batch_dirs():
            compact_batch_partitions(
                self.spark, d, batch_id, self.target_file_bytes
            )

    def hold(self, batch_df: DataFrame, batch_id: int) -> bool:
        """Drift HOLD: a MATERIALIZED batch raising a schema /
        null-jump / distinct-collapse alarm against the baseline is
        dead-lettered WHOLE to ``drift_dir/held/batch_id=N`` (same
        idempotent per-partition overwrite as accepted rows — a
        replayed held batch holds again).  It contributes no accepted
        partition and no artifact increment, so the replay contract
        is untouched.  True when held."""
        if self.baseline is None:
            return False
        with _staged(self.stage_sec, "drift"):
            alarms = _batch_drift_alarms(
                self.baseline, batch_df, self.drift_cols,
                self.drift_null_jump, self.drift_distinct_drop,
            )
        if not alarms:
            return False
        batch_df.write.mode("overwrite").parquet(
            f"{self.drift_dir}/held/batch_id={batch_id}"
        )
        if self.on_hold is not None:
            self.on_hold(batch_id, alarms)
        return True

    def delete_partition(self, batch_id: int) -> None:
        for d in self.batch_dirs():
            _delete_batch_partition(self.spark, d, batch_id)

    def checkpoint(self, batch_df: DataFrame) -> tuple[DataFrame, int]:
        """The ONE materialization of an incoming batch, and its row
        count: every gate and screen after it reads these blocks, so
        no stage replays the batch's source."""
        with _staged(self.stage_sec, "batch_ckpt"):
            return _checkpoint_counted(batch_df)

    def quality_kept(self, batch: DataFrame, batch_id: int) -> DataFrame:
        """The quality gate: the FULL rows of ``batch`` the model
        keeps, materialized — a semi-join on the verdict, so columns
        beyond (doc_id, text), such as a held row's embedding, stay
        aligned with their text.  With ``quality_dir`` the model is
        the lake generation: a pending retrain runs first, and the
        mean score of the whole batch is probed against the
        generation's baseline."""
        if self.quality_model is None:
            return batch
        from kafka_sparkstreaming_sbt_spark.operators.classify import (
            nb_score,
        )
        from kafka_sparkstreaming_sbt_spark.operators.dsir import _MICRO

        spark, qdir = self.spark, self.quality_dir
        with _staged(self.stage_sec, "quality"):
            model = self.quality_model
            if qdir is not None:
                if self.quality_stale:
                    # staleness response at the START of the trigger:
                    # only checkpoint-committed batches feed the retrain
                    rebuild_quality_model(
                        spark, self.corpus_docs, self.accepted_dir,
                        self.quality_negatives, qdir, batch_id,
                        n_buckets=self.quality_n_buckets,
                        seed=self.quality_seed,
                    )
                    self.quality_stale = False
                model, baseline = _load_quality_generation(spark, qdir)
            scored = nb_score(
                batch, model,
                n_buckets=self.quality_n_buckets, seed=self.quality_seed,
            )
            if qdir is not None:
                # score ONCE: the kept-slice semi-join and the drift
                # probe both read the pinned integer scores
                scored = scored.localCheckpoint(eager=True)
                # drift probe on the FULL scored batch, not the kept
                # slice: a model aged enough to wrongly reject the new
                # register would keep its own blind spot out of a
                # kept-only probe and never trigger its cure
                mean = scored.agg(F.avg("score_micro")).collect()[0][0]
                if mean is not None:
                    gap = abs(float(mean) - baseline) / _MICRO
                    if gap > self.quality_drift_nats:
                        self.quality_stale = True
                        if self.on_quality_drift is not None:
                            self.on_quality_drift(batch_id, round(gap, 6))
            kept = scored.filter(
                F.col("score_micro")
                > F.lit(int(self.quality_threshold * _MICRO))
            )
            return batch.join(
                kept.select("doc_id"), "doc_id", "left_semi"
            ).localCheckpoint(eager=True)

    def screen(
        self, batch: DataFrame, batch_id: int,
        corpus_upto: int | None = None,
    ) -> int:
        """The one screen body: screen a MATERIALIZED batch against
        the corpus as of ``corpus_upto`` (default ``batch_id``), write
        the survivors to ``accepted_dir/batch_id=N`` and their
        artifact increments.  Returns n_accepted.  The text leg runs
        when there is a text corpus, the semantic leg when
        ``cells_dir`` is set; with both, the semantic leg sees only
        the text leg's survivors, and the accepted rows carry the text
        leg's (possibly span-cleaned) text with the batch's vectors."""
        stage_sec, id_col = self.stage_sec, self.id_col
        cutoff = batch_id if corpus_upto is None else corpus_upto
        kept = None
        if self.corpus_docs is not None:
            text_ok = _screen_text_core(
                batch, cutoff, self.corpus_docs, self.accepted_dir,
                self.threshold, self.shingle_n, self.n_bands,
                self.signature_dir, self.exact_dir, self.span_dir,
                self.span_window_tokens, stage_sec,
            )
            # the near-dup plan runs HERE, once; its survivors feed
            # the semantic prune, the write and every increment.  The
            # batch is micro by contract — the shingle/minhash/window
            # stages' per-partition overhead dominates at 32
            # partitions for a few thousand rows, hence 4
            with _staged(stage_sec, "near_dup"):
                kept, n_accepted = _checkpoint_counted(text_ok.coalesce(4))
        if self.cells_dir is not None:
            with _staged(stage_sec, "semantic"):
                vecs = batch.select(id_col, self.vec_col)
                if kept is not None:
                    vecs = vecs.join(
                        kept.select(id_col), id_col, "left_semi"
                    ).localCheckpoint(eager=True)
                verdicts, n_verdicts = _screen_semantic_core(
                    vecs, cutoff, self.corpus_emb, self.accepted_dir,
                    self.cells_dir, self.semantic_threshold,
                    self.vec_col, id_col, self.method, self.max_cell_size,
                )
        with _staged(stage_sec, "write_accept"):
            if kept is None:
                kept, n_accepted = verdicts, n_verdicts
            elif self.cells_dir is not None:
                # (doc_id, text, cell_id): batch ids are unique, so
                # the joins below drop nothing
                kept, n_accepted = _checkpoint_counted(
                    kept.join(verdicts, id_col).coalesce(4)
                )
            rows = kept.drop("cell_id")
            if self.cells_dir is not None:
                rows = rows.join(batch.select(id_col, self.vec_col), id_col)
            # idempotent per-batch write: replaying batch N overwrites
            # its own partition, never touches earlier ones
            rows.write.mode("overwrite").parquet(
                f"{self.accepted_dir}/batch_id={batch_id}"
            )
        with _staged(stage_sec, "increments"):
            if self.corpus_docs is not None:
                _write_text_increments(
                    kept, batch_id, self.shingle_n,
                    self.n_bands, self.signature_dir, self.exact_dir,
                    self.span_dir, self.span_window_tokens,
                )
            if self.cells_dir is not None:
                kept.select(id_col, "cell_id").write.mode(
                    "overwrite"
                ).parquet(f"{self.cells_dir}/incr/batch_id={batch_id}")
        return n_accepted

    def trigger(self, batch_df: DataFrame, batch_id: int) -> None:
        """One micro-batch, in the module docstring's order.  The
        maintenance runs before the drift HOLD, so a held trigger
        can't skip a fold milestone; ``on_batch(batch_id, n_raw,
        n_accepted)`` prices every gate and screen together."""
        self.maintain(batch_id)
        batch, n_raw = self.checkpoint(batch_df)
        n_accepted = 0
        if not self.hold(batch, batch_id):
            n_accepted = self.screen(
                self.quality_kept(batch, batch_id), batch_id
            )
            if self.drift_threshold is not None and n_raw > 0:
                self.probe_quantizer(batch, batch_id)
        if self.on_batch is not None:
            self.on_batch(batch_id, n_raw, n_accepted)

    def probe_quantizer(self, batch: DataFrame, batch_id: int) -> None:
        """Semantic drift probe: ``assignment_quality`` of the
        materialized batch against the baseline recorded at quantizer
        build; past ``drift_threshold`` the quantizer is re-clustered
        at the START of the next trigger (:meth:`maintain`)."""
        from kafka_sparkstreaming_sbt_spark.operators.similarity import (
            assignment_quality,
        )

        # the generation the screen just used — no lake re-read
        cents, _, baseline = _quantizer_tables(
            self.spark, self.cells_dir, self.id_col,
            self.corpus_emb.schema[self.id_col].dataType,
        )
        drift = baseline() - assignment_quality(
            batch.select(self.id_col, self.vec_col), cents,
            self.vec_col, self.id_col,
        )
        if self.on_drift is not None:
            self.on_drift(batch_id, drift)
        if drift > self.drift_threshold:
            self.quantizer_stale = True

    def start(
        self, stream: DataFrame, checkpoint_location: str
    ) -> StreamingQuery:
        return (
            stream.writeStream.foreachBatch(self.trigger)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_location)
            .start()
        )


def run_dedup_ingest_pipeline(
    stream_docs: DataFrame,
    corpus_docs: DataFrame,
    accepted_dir: str,
    checkpoint_location: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    n_bands: int = 8,
    on_batch: Callable[[int, int, int], None] | None = None,
    signature_dir: str | None = None,
    compact_every: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    quality_model: DataFrame | None = None,
    quality_threshold: float = 0.0,
    quality_n_buckets: int = 1024,
    quality_seed: int = 7,
    quality_dir: str | None = None,
    quality_negatives: DataFrame | None = None,
    quality_drift_nats: float = 2.0,
    on_quality_drift: Callable[[int, float], None] | None = None,
    exact_dir: str | None = None,
    drift_dir: str | None = None,
    drift_cols: tuple[str, ...] = ("text",),
    drift_null_jump: float = 0.02,
    drift_distinct_drop: float = 0.5,
    on_hold: Callable[[int, list[str]], None] | None = None,
    span_dir: str | None = None,
    span_window_tokens: int = 16,
) -> StreamingQuery:
    """Start the streaming ingest screen.

    ``stream_docs``: streaming DataFrame with ``doc_id`` and ``text``.
    ``corpus_docs``: static (batch) corpus with the same columns.
    ``accepted_dir``: lake path where accepted rows accumulate,
    partitioned ``batch_id=N`` — readable as one parquet table, and
    the corpus side of every later batch's screen.
    ``signature_dir`` (recommended for any non-toy corpus): lake path
    for the materialized banded-key tables — the static corpus's keys
    are built ONCE at pipeline start and each batch appends only its
    accepted rows' keys, so no trigger ever re-shingles the corpus.
    ``compact_every`` (recommended for any long-lived deployment):
    every N batches, fold the committed ``batch_id`` partitions of
    the accepted lake AND the incremental signature table into one
    consolidated partition (:func:`compact_batch_partitions`), so
    partition count — and with it trigger-planning file-listing cost
    — stays bounded at ~``compact_every + 1`` regardless of how many
    triggers the pipeline has ever run.  The fold happens at the
    START of a trigger and covers only checkpoint-committed batches,
    so accept verdicts and replay idempotence are untouched (tested:
    tests/test_streaming_ingest.py).
    ``on_batch(batch_id, n_batch, n_accepted)`` is an observability
    hook (counts only, no data).
    ``quality_model`` (optional): a trained :func:`classify.nb_train`
    frame — each micro-batch is quality-screened BEFORE the dedup
    screen (the CCNet ordering).
    ``quality_n_buckets``/``quality_seed`` must match training.
    ``n_batch`` reported to ``on_batch`` stays the RAW batch size, so
    ``n_accepted / n_batch`` prices both screens together.
    ``quality_dir`` (optional, requires ``quality_model`` AND
    ``quality_negatives``): quality-model STALENESS management
    (VERDICT r7 next-6), mirroring centroid staleness — the model +
    its corpus mean-score baseline become a lake generation under
    ``quality_dir/current``; each trigger probes the mean NB score of
    the full scored batch against the baseline (one avg over the
    already-computed integer scores), and a gap beyond
    ``quality_drift_nats`` schedules a staged retrain at the start of
    the next trigger over static corpus + accepted(<N) as positives
    vs ``quality_negatives`` (the CCNet seed refresh), swapped in
    atomically (crash-safe, :func:`recover_quality_model`).
    ``on_quality_drift(batch_id, gap_nats)`` observes firings.  The
    pending-retrain flag is in-memory only: a crash between detection
    and retrain loses the flag, but the drift persists in the data
    and the next drifted batch re-schedules it.
    ``exact_dir`` (recommended when the stream carries exact re-crawls):
    drop exact copies BEFORE the near-dup screen by one anti-join
    against the materialized content-hash table
    (:func:`materialize_exact_screen`) — semantics unchanged (the
    near-dup screen would catch exact copies too, at shingling
    price), verdicts identical, tested.
    ``drift_dir`` (optional): HOLD broken feeds before any screen
    spends compute on them — the corpus's column profile is
    materialized once at ``drift_dir/baseline``, each micro-batch is
    profiled against it (``drift_cols``, default just ``text``), and
    a batch raising a schema / null-jump / distinct-collapse alarm is
    dead-lettered WHOLE to ``drift_dir/held/batch_id=N`` (same
    idempotent per-partition overwrite as accepted rows — a replayed
    held batch holds again) instead of entering the screens; it
    contributes no accepted partition and no artifact
    increment, so the replay contract is untouched.  ``on_hold(
    batch_id, alarms)`` observes holds; ``on_batch`` still fires with
    ``n_accepted=0`` so throughput accounting stays complete.
    ``span_dir`` (optional): ExactSubstr duplicated-span EXCISION as
    a streaming stage (VERDICT r8 next-2) — the corpus's distinct
    window-hash table is materialized once
    (:func:`materialize_corpus_window_hashes`), each batch excises
    every ``span_window_tokens``-token window already present in
    corpus/accepted text (or shared by >= 2 batch docs), and each
    accepted partition appends its own windows' hashes as
    ``span_dir/incr/batch_id=N`` — the signature-table lifecycle
    exactly: strict-cutoff reads (replay-safe), idempotent partition
    overwrites, folded at every compaction.  Unlike the reject
    screens this stage REWRITES text: accepted rows carry the
    cleaned text, and all downstream artifacts (signatures, content
    hashes, window incrs) derive from it."""
    if quality_dir is not None and (
        quality_model is None or quality_negatives is None
    ):
        raise ValueError(
            "quality_dir requires quality_model (the initial "
            "generation) and quality_negatives (retrain labels)"
        )
    return _Lake.of(corpus_docs.sparkSession, locals()).open().start(
        stream_docs, checkpoint_location
    )


# ------------------------------------------------ held-batch release --
#
# The drift HOLD dead-letters a broken feed's batches whole; after a
# false alarm or a legitimate distribution shift the operator refreshes
# the baseline and RELEASES the held batches back through the full
# screen stack (VERDICT r7 wrong-3 — without this the held dir is a
# roach motel).  Released survivors land under NEGATIVE partition ids
# (`_RELEASE_BASE + held_id`): negative < every stream batch id, so
# every future trigger's strict-inequality corpus read includes them,
# while release partitions stay disjoint from stream partitions and a
# re-release of the same held id overwrites the same partition.

#: release partition for held batch N = _RELEASE_BASE + N — far below
#: any stream batch id, far above long-overflow
_RELEASE_BASE = -(1 << 40)


def rebuild_drift_baseline(
    corpus_docs: DataFrame,
    drift_dir: str,
    cols: tuple[str, ...] = ("text",),
    accepted_dir: str | None = None,
) -> None:
    """Maintenance call: re-profile the baseline the drift gate
    compares against — over the static corpus plus (if given) the
    accepted lake, which is what the ingested distribution has
    legitimately become.  Plain overwrite: the artifact is |cols|
    rows, and a crash mid-write leaves no ``_SUCCESS`` so the next
    pipeline start re-materializes from the corpus.  A RUNNING
    pipeline pinned its baseline at start — the refresh takes effect
    for :func:`release_held_batches` immediately and for the stream
    at its next restart."""
    from kafka_sparkstreaming_sbt_spark.operators.profile import (
        profile_columns,
    )

    spark = corpus_docs.sparkSession
    acc = (
        # the accepted rows' shape is the stream's: inferred
        _prior_partitions(spark, accepted_dir, 1 << 62, None)
        if accepted_dir is not None
        else None
    )
    if acc is None:
        baseline = profile_columns(corpus_docs, list(cols))
    else:
        # the screen persists only (doc_id, text): columns the lake
        # does not carry are profiled from the corpus snapshot alone,
        # shared columns over corpus + accepted
        shared = [c for c in cols if c in acc.columns]
        corpus_only = [c for c in cols if c not in acc.columns]
        parts = []
        if shared:
            parts.append(
                profile_columns(
                    corpus_docs.select(shared).unionByName(
                        acc.select(shared)
                    ),
                    shared,
                )
            )
        if corpus_only:
            parts.append(profile_columns(corpus_docs, corpus_only))
        baseline = parts[0]
        for p in parts[1:]:
            baseline = baseline.unionByName(p)
    baseline.write.mode("overwrite").parquet(f"{drift_dir}/baseline")


def _delete_batch_partition(spark, path: str, batch_id: int) -> None:
    fs, P = _hadoop_fs(spark, path)
    fs.delete(P(f"{path}/batch_id={batch_id}"), True)


def release_held_batches(
    spark,
    corpus_docs: DataFrame,
    accepted_dir: str,
    drift_dir: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    n_bands: int = 8,
    signature_dir: str | None = None,
    exact_dir: str | None = None,
    quality_model: DataFrame | None = None,
    quality_threshold: float = 0.0,
    quality_n_buckets: int = 1024,
    quality_seed: int = 7,
    drift_cols: tuple[str, ...] = ("text",),
    drift_null_jump: float = 0.02,
    drift_distinct_drop: float = 0.5,
    corpus_emb: DataFrame | None = None,
    cells_dir: str | None = None,
    semantic_threshold: float = 0.9,
    method: str = "sql",
    max_cell_size: int | None = None,
    span_dir: str | None = None,
    span_window_tokens: int = 16,
) -> dict[int, tuple[int, int] | None]:
    """Re-screen every batch in ``drift_dir/held`` through the FULL
    gate and screen stack, drift gate against the CURRENT baseline
    first, and land survivors in the lake — the release path the
    drift HOLD needs after :func:`rebuild_drift_baseline`.

    For a MULTIMODAL lake (held rows carry embeddings, accepted
    partitions hold full rows) pass ``corpus_emb`` AND ``cells_dir``:
    the release then runs the semantic stage too and writes full
    (doc_id, text, embedding) rows, keeping every accepted
    partition's schema identical.  Releasing a multimodal lake
    through the text-only path would write embedding-less partitions
    that poison later reads.

    Per held batch N: (1) re-check drift against the current
    baseline — a batch that still alarms STAYS held (mapped to None
    in the result); (2) delete any artifacts a crashed earlier
    release left at the release partition (idempotent redo); (3)
    screen with the corpus cutoff at +inf so the batch sees the
    static corpus, every stream partition, AND every earlier release;
    (4) write survivors + signature/exact increments under
    ``batch_id = _RELEASE_BASE + N``; (5) drop the held partition —
    its absence is the completion record, so a REPLAYED release finds
    nothing held and is a no-op.  A crash anywhere earlier leaves the
    held partition in place and the redo reproduces the same state.

    Run this as a maintenance op while the streaming query is paused
    (same discipline as quantizer/quality rebuilds — the lake writes
    here race a concurrent trigger's corpus reads otherwise).

    Returns {held_batch_id: (n_screened, n_accepted) | None-if-still-
    held}."""
    if (corpus_emb is None) != (cells_dir is None):
        raise ValueError(
            "multimodal release needs BOTH corpus_emb and cells_dir"
        )
    # the text stages key the semantic stage on doc_id
    lake = _Lake.of(spark, {**locals(), "id_col": "doc_id"})
    held_root = f"{drift_dir}/held"
    results: dict[int, tuple[int, int] | None] = {}
    held_ids = _list_batch_ids(spark, held_root)
    if not held_ids:
        return results
    baseline = read_parquet(
        spark, f"{drift_dir}/baseline", _PROFILE_SCHEMA
    ).localCheckpoint(eager=True)
    for held_id in held_ids:
        # a held batch is whatever the stream delivered: inferred
        batch = read_parquet(
            spark, f"{held_root}/batch_id={held_id}", None
        ).drop("batch_id").localCheckpoint(eager=True)
        alarms = _batch_drift_alarms(
            baseline, batch, drift_cols, drift_null_jump,
            drift_distinct_drop,
        )
        if alarms:
            results[held_id] = None  # still broken vs the NEW baseline
            continue
        release_id = _RELEASE_BASE + held_id
        lake.delete_partition(release_id)
        batch = lake.quality_kept(batch, release_id)
        # cutoff +inf: the batch sees the static corpus, every stream
        # partition, AND every earlier release
        results[held_id] = (
            batch.count(), lake.screen(batch, release_id, 1 << 62)
        )
        _delete_batch_partition(spark, held_root, held_id)
    return results


# ------------------------------------------------ quality staleness --
#
# The NB quality model mirrors the quantizer's lifecycle problem
# (VERDICT r7 next-6): pinned once at pipeline start, it ages as the
# ingested distribution legitimately drifts, and its decision boundary
# silently stops describing the corpus.  Same cure as centroid
# staleness: a lake-materialized generation (model + the corpus's
# mean-score baseline), a drift probe per trigger (mean NB score of
# the quality-accepted slice vs the baseline, in nats — integer
# micro-nat sums make this deterministic), and a staged retrain over
# corpus + accepted at the START of the next trigger when the gap
# crosses the threshold.
#
# Lake layout under ``quality_dir``:
#
#   current/model       (bucket, w_micro) — the live nb_train frame
#   current/baseline    one (mean_score_micro) row — corpus mean at
#                       generation build
#   current/_UPTO=K     marker: trained on accepted <K
#
# Retraining needs LABELS: positives are what the lake asserts is
# good (static corpus + accepted), negatives stay the operator's seed
# slice (``quality_negatives``) — the CCNet recipe's refresh step.


#: ``<generation>/model``: the ``nb_train`` frame
_QUALITY_MODEL_SCHEMA = columns(
    ("bucket", T.IntegerType()), ("w_micro", _LONG)
)
#: ``<generation>/baseline``: the corpus mean score
_QUALITY_BASELINE_SCHEMA = columns(("mean_score_micro", _DOUBLE))


def _write_quality_generation(
    spark,
    model: DataFrame,
    score_corpus: DataFrame,
    dest: str,
    upto_batch: int,
    n_buckets: int,
    seed: int,
) -> None:
    """One quality-model generation at ``dest``: the model frame, the
    mean-score baseline over ``score_corpus``, then the ``_UPTO``
    marker LAST."""
    from kafka_sparkstreaming_sbt_spark.operators.classify import (
        nb_score,
    )

    model = model.select(
        *(F.col(f.name).cast(f.dataType) for f in _QUALITY_MODEL_SCHEMA)
    ).localCheckpoint(eager=True)
    model.write.mode("overwrite").parquet(f"{dest}/model")
    mean = (
        nb_score(score_corpus, model, n_buckets=n_buckets, seed=seed)
        .agg(F.avg("score_micro"))
        .collect()[0][0]
    )
    spark.createDataFrame(
        [(float(mean if mean is not None else 0.0),)],
        "mean_score_micro double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{dest}/baseline")
    _touch(spark, f"{dest}/_UPTO={upto_batch}")


def materialize_quality_model(
    corpus_docs: DataFrame,
    quality_dir: str,
    model: DataFrame,
    n_buckets: int = 1024,
    seed: int = 7,
) -> None:
    """One-time generation for the quality screen: the operator's
    seed-trained model plus the corpus mean-score baseline the drift
    probe compares against.  Skipped when the ``_UPTO`` marker exists
    (written last — a crash mid-build leaves no marker and the retry
    rebuilds)."""
    spark = corpus_docs.sparkSession
    dest = f"{quality_dir}/current"
    if _quantizer_upto(spark, dest) is not None:
        return
    _write_quality_generation(
        spark, model, corpus_docs, dest, 0, n_buckets, seed
    )


def rebuild_quality_model(
    spark,
    corpus_docs: DataFrame,
    accepted_dir: str,
    negatives: DataFrame,
    quality_dir: str,
    upto_batch: int,
    n_buckets: int = 1024,
    seed: int = 7,
) -> None:
    """Retrain over the corpus the pipeline has actually built —
    positives = static corpus + accepted(<upto_batch) labeled 1,
    negatives = the operator's seed slice labeled 0 (doc ids must be
    unique across the union; the featurizer groups by id) — and
    atomically swap the generation through the staged-generation
    protocol (module docstring; :func:`recover_quality_model`)."""
    from kafka_sparkstreaming_sbt_spark.operators.classify import (
        nb_train,
    )

    pos = _with_prior(
        corpus_docs.select("doc_id", "text"), accepted_dir, upto_batch
    ).localCheckpoint(eager=True)  # train + baseline score
    labeled = pos.withColumn("label", F.lit(1)).unionByName(
        negatives.select("doc_id", "text").withColumn("label", F.lit(0))
    )
    model = nb_train(labeled, "label", n_buckets=n_buckets, seed=seed)
    gen = _quality_generation(spark, quality_dir)
    _write_quality_generation(
        spark, model, pos, gen.staging(upto_batch), upto_batch,
        n_buckets, seed,
    )
    gen.commit(upto_batch)


def _quality_generation(spark, quality_dir: str) -> _Generation:
    return _Generation(
        spark, f"{quality_dir}/_rebuild", f"{quality_dir}/current"
    )


def recover_quality_model(spark, quality_dir: str) -> None:
    """Finish or roll back a quality retrain a crash interrupted —
    run at pipeline start."""
    _quality_generation(spark, quality_dir).recover()


def _load_quality_generation(spark, quality_dir: str):
    """(pinned model frame, baseline mean micro-score) of the current
    generation, cached per generation."""

    def load(current: str):
        model = read_parquet(
            spark, f"{current}/model", _QUALITY_MODEL_SCHEMA
        ).localCheckpoint(eager=True)
        baseline = read_parquet(
            spark, f"{current}/baseline", _QUALITY_BASELINE_SCHEMA
        ).collect()
        return model, float(baseline[0][0])

    return _quality_generation(spark, quality_dir).load(load)


# ------------------------------------------------ embedding-side screen --
#
# The semantic twin of the textual screen above (VERDICT r6 #2): a real
# multimodal pipeline screens EMBEDDINGS on ingest too.  Same design,
# same contracts — foreachBatch (the decision is a relational screen
# against an unbounded corpus, not per-key state), accepted rows under
# ``accepted_dir/batch_id=N`` with the strict-inequality replay rule,
# idempotent per-partition overwrites, and the recurring-cost artifact
# materialized in the lake: here that artifact is the QUANTIZER — the
# frozen centroids plus every corpus row's cell assignment (exactly
# ``incremental_semantic_dedup``'s ``corpus_cells=`` input), so no
# trigger ever re-assigns the corpus.
#
# Lake layout under ``cells_dir``:
#
#   quantizer/centroids   (cell_id, c_vec)           — the frozen cells
#   quantizer/base        (id, cell_id)              — assignments of the
#                                                      static corpus (and,
#                                                      after a rebuild, all
#                                                      accepted rows it
#                                                      covered)
#   quantizer/quality     one (q) row                — assignment_quality
#                                                      baseline at build
#   quantizer/_UPTO=K     marker: covers batches <K
#   incr/batch_id=N       (id, cell_id)              — accepted batch rows
#
# CENTROID STALENESS (VERDICT r6 #3): the incremental path assumes
# frozen centroids; as the ingested distribution drifts, near-dups land
# in cells whose centroids no longer describe them and recall silently
# decays.  The pipeline measures ``assignment_quality`` on every
# incoming batch against the baseline recorded at quantizer build; when
# the gap exceeds ``drift_threshold`` it re-clusters at the START of
# the NEXT trigger (same only-committed-batches discipline as
# compaction): new k-means centroids over static + accepted, swapped in
# as one staged generation (:func:`rebuild_semantic_quantizer`).


def _quantizer_generation(spark, cells_dir: str) -> _Generation:
    return _Generation(
        spark, f"{cells_dir}/_rebuild", f"{cells_dir}/quantizer",
        incr=f"{cells_dir}/incr",
    )


#: ``quantizer/centroids``: the frozen cells
_CENTROIDS_SCHEMA = columns(
    ("cell_id", _LONG), ("c_vec", T.ArrayType(_DOUBLE, True))
)
#: ``quantizer/quality``: the assignment-quality baseline
_ASSIGN_QUALITY_SCHEMA = columns(("q", _DOUBLE))


def _cells_schema(id_col: str, id_type: T.DataType) -> T.StructType:
    """``quantizer/base`` and ``incr``: ``(id, cell_id)`` assignments,
    in the corpus's id type."""
    return columns((id_col, id_type), ("cell_id", _LONG))


def _quantizer_tables(
    spark, cells_dir: str, id_col: str = "vec_id",
    id_type: T.DataType = _LONG,
):
    """(centroids, base, quality) of the committed quantizer
    generation under ``cells_dir`` — loaded once per generation and
    reused across triggers.  The centroids frame is a stable
    DataFrame OBJECT, so the numpy tier's per-trigger driver collect
    is memoized away too (``similarity._centroid_arrays``).
    ``quality()`` reads the assignment-quality baseline on first use
    only: screens without a drift probe never pay its job."""
    import functools

    def load(dest: str):
        # localCheckpoint, NOT persist: a persisted `read.parquet(path)`
        # registers in the CacheManager BY LOGICAL PLAN, so any later
        # fresh read of the same path (e.g. right after a generation
        # roll-forward replaced the directory) would silently serve the
        # stale cached rows; a checkpoint rebases onto an ExistingRDD
        # and leaves path reads untouched (caught by
        # test_quantizer_rebuild_crash_recovery).
        centroids = read_parquet(
            spark, f"{dest}/centroids", _CENTROIDS_SCHEMA
        )
        base = read_parquet(
            spark, f"{dest}/base", _cells_schema(id_col, id_type)
        )
        quality = functools.cache(
            lambda: float(
                read_parquet(
                    spark, f"{dest}/quality", _ASSIGN_QUALITY_SCHEMA
                ).collect()[0].q
            )
        )
        return (
            centroids.localCheckpoint(eager=True),
            base.localCheckpoint(eager=True),
            quality,
        )

    return _quantizer_generation(spark, cells_dir).load(load)


def _write_quantizer(
    spark,
    quantizer_corpus: DataFrame,
    dest: str,
    centroids: DataFrame,
    upto_batch: int,
    vec_col: str,
    id_col: str,
) -> None:
    """One quantizer generation at ``dest``: centroids, the corpus's
    cell assignments, the assignment-quality baseline, then the
    ``_UPTO`` marker LAST (build-complete flag)."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        assignment_quality,
        ivf_assign,
    )

    centroids = centroids.select(
        *(F.col(f.name).cast(f.dataType) for f in _CENTROIDS_SCHEMA)
    ).localCheckpoint(eager=True)  # 3 consumers
    centroids.write.mode("overwrite").parquet(f"{dest}/centroids")
    ivf_assign(
        quantizer_corpus, centroids, vec_col, id_col
    ).write.mode("overwrite").parquet(f"{dest}/base")
    q = assignment_quality(quantizer_corpus, centroids, vec_col, id_col)
    spark.createDataFrame([(float(q),)], "q double").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{dest}/quality")
    _touch(spark, f"{dest}/_UPTO={upto_batch}")


def materialize_semantic_quantizer(
    corpus_emb: DataFrame,
    cells_dir: str,
    centroids: DataFrame | None = None,
    n_cells: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> None:
    """One-time quantizer generation for the semantic screen — the
    embedding analog of :func:`materialize_corpus_signatures`: frozen
    centroids (caller-supplied, else seeded k-means over the static
    corpus), the corpus's materialized cell assignments, and the
    quality baseline drift is measured against.  Skipped only when
    the ``_UPTO`` marker exists — written last, so a crash mid-build
    leaves no marker and the retry rebuilds (same non-atomic-dir
    lesson as the signature base)."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        kmeans_centroids,
    )

    spark = corpus_emb.sparkSession
    dest = f"{cells_dir}/quantizer"
    if _quantizer_upto(spark, dest) is not None:
        return
    if centroids is None:
        centroids = kmeans_centroids(
            corpus_emb, n_cells, seed=seed, vec_col=vec_col, id_col=id_col
        )
    _write_quantizer(
        spark, corpus_emb, dest, centroids, 0, vec_col, id_col
    )


def rebuild_semantic_quantizer(
    corpus_emb: DataFrame,
    accepted_dir: str,
    cells_dir: str,
    upto_batch: int,
    n_cells: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> None:
    """Re-cluster the quantizer over static + accepted(<upto_batch)
    and atomically swap the generation — the staleness response.  The
    new ``base`` covers every accepted batch < upto, so the ``incr``
    partitions below upto are dropped at commit (their assignments —
    recomputed against the NEW cells — now live in base).

    Crash-safe through the staged-generation protocol (module
    docstring): centroids + base + quality swap in ONE rename, and
    :func:`recover_semantic_quantizer` rolls forward or back.  Replay
    stays correct for the same reason compaction's does: only
    checkpoint-committed batches are folded in, so the one batch
    that can still replay is never part of the corpus it screens
    against."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        kmeans_centroids,
    )

    spark = corpus_emb.sparkSession
    full = _with_prior(
        corpus_emb.select(id_col, vec_col), accepted_dir, upto_batch
    ).localCheckpoint(eager=True)  # k-means + assign + quality
    centroids = kmeans_centroids(
        full, n_cells, seed=seed, vec_col=vec_col, id_col=id_col
    )
    gen = _quantizer_generation(spark, cells_dir)
    _write_quantizer(
        spark, full, gen.staging(upto_batch), centroids, upto_batch,
        vec_col, id_col,
    )
    gen.commit(upto_batch)


def recover_semantic_quantizer(spark, cells_dir: str) -> None:
    """Finish or roll back a rebuild a crash interrupted — run at
    pipeline start before any screen reads the quantizer."""
    _quantizer_generation(spark, cells_dir).recover()


def _screen_semantic_core(
    batch_df: DataFrame,
    cutoff: int,
    corpus_emb: DataFrame,
    accepted_dir: str,
    cells_dir: str,
    threshold: float,
    vec_col: str,
    id_col: str,
    method: str,
    max_cell_size: int | None,
) -> tuple[DataFrame, int]:
    """The semantic leg of the one screen body (:meth:`_Lake.screen`):
    (id, cell_id) of the KEPT batch rows, materialized, and their
    count.  Corpus side
    = static ``corpus_emb`` + accepted partitions < ``cutoff`` (rows
    from ``accepted_dir``, assignments from ``quantizer/base`` +
    ``incr/batch_id<cutoff``)."""
    from kafka_sparkstreaming_sbt_spark.operators.similarity import (
        incremental_semantic_dedup,
    )

    spark = batch_df.sparkSession
    corpus = _with_prior(
        corpus_emb.select(id_col, vec_col), accepted_dir, cutoff
    )
    # generation-cached quantizer tables (VERDICT r11 #4): frozen for
    # the generation's lifetime, so no trigger re-reads them from the
    # lake; the per-trigger increments below stay fresh reads
    centroids, cells, _ = _quantizer_tables(
        spark, cells_dir, id_col, corpus_emb.schema[id_col].dataType
    )
    cells = _with_prior(cells, f"{cells_dir}/incr", cutoff)
    verdicts = incremental_semantic_dedup(
        batch_df,
        corpus,
        centroids,
        threshold=threshold,
        vec_col=vec_col,
        id_col=id_col,
        method=method,
        max_cell_size=max_cell_size,
        corpus_cells=cells,
    ).filter(F.col("kept"))
    # one screen execution feeds every downstream consumer:
    # materialize the tiny (id, cell) verdict rows once, and count them
    return _checkpoint_counted(verdicts.select(id_col, "cell_id"))


def screen_semantic_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_emb: DataFrame,
    accepted_dir: str,
    cells_dir: str,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "sql",
    max_cell_size: int | None = None,
) -> tuple[int, int]:
    """One micro-batch of the semantic screen (the trigger's screen
    body, exposed for direct replay-contract testing): screen ``batch_df``
    against the static corpus + accepted partitions STRICTLY before
    ``batch_id`` using the materialized quantizer, write survivors
    (and their cell assignments) idempotently under ``batch_id=N``.
    Returns (n_batch, n_accepted).

    Per-trigger cost is the incremental screen's contract — batch x
    (in-cell corpus + earlier batch), with the corpus side's
    assignments read from the lake (``quantizer/base`` +
    ``incr/batch_id<N``), so no trigger re-assigns or re-scans the
    corpus beyond the cells the batch occupies."""
    lake = _Lake.of(
        batch_df.sparkSession, {**locals(), "semantic_threshold": threshold}
    )
    batch, n_in = lake.checkpoint(batch_df)
    return n_in, lake.screen(batch, batch_id)


def run_semantic_ingest_pipeline(
    stream_emb: DataFrame,
    corpus_emb: DataFrame,
    accepted_dir: str,
    cells_dir: str,
    checkpoint_location: str,
    threshold: float = 0.9,
    centroids: DataFrame | None = None,
    n_cells: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "sql",
    max_cell_size: int | None = None,
    compact_every: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    drift_threshold: float | None = None,
    on_batch: Callable[[int, int, int], None] | None = None,
    on_drift: Callable[[int, float], None] | None = None,
    seed: int = 42,
) -> StreamingQuery:
    """Start the embedding-side streaming ingest screen — SemDeDup on
    ingest: every micro-batch of ``stream_emb`` (``id_col`` +
    ``vec_col``) is screened against the static corpus plus everything
    accepted so far; survivors and their cell assignments accumulate
    under ``batch_id=N`` with the same replay contract as the textual
    screen.

    ``drift_threshold``: enable centroid-staleness management — after
    each batch, ``assignment_quality(batch) - baseline`` is the drift;
    past the threshold the quantizer is re-clustered at the START of
    the next trigger (committed batches only) and the generation swaps
    atomically.  ``on_drift(batch_id, drift)`` observes every
    measurement.  The pending-rebuild flag is driver-side state: lost
    on restart, but drift re-fires on the next drifted batch, so the
    response is delayed, never wrong.

    ``compact_every``: same bounded-partition maintenance as the
    textual screen, applied to both the accepted lake and ``incr``.
    """
    return _Lake.of(
        corpus_emb.sparkSession, {**locals(), "semantic_threshold": threshold}
    ).open().start(stream_emb, checkpoint_location)


# ------------------------------------------------ unified multimodal --
#
# A real pretraining pipeline ingests documents WITH their embeddings
# and wants ONE verdict per document and ONE accepted partition
# (VERDICT r7 next-5).  The unified driver runs the textual AND the
# semantic screens in the one trigger body over a stream carrying
# (doc_id, text, embedding), sharing ONE batch-id sequence and ONE
# replay contract: the accepted lake holds (doc_id, text, embedding)
# under batch_id=N; the textual screens read its (doc_id, text)
# projection, the semantic screen its (doc_id, embedding) projection —
# column pruning makes each read only what it screens on.


def run_multimodal_ingest_pipeline(
    stream_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_emb: DataFrame,
    accepted_dir: str,
    cells_dir: str,
    checkpoint_location: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    n_bands: int = 8,
    semantic_threshold: float = 0.9,
    centroids: DataFrame | None = None,
    n_cells: int | None = None,
    method: str = "sql",
    max_cell_size: int | None = None,
    signature_dir: str | None = None,
    exact_dir: str | None = None,
    quality_model: DataFrame | None = None,
    quality_threshold: float = 0.0,
    quality_n_buckets: int = 1024,
    quality_seed: int = 7,
    drift_dir: str | None = None,
    drift_cols: tuple[str, ...] = ("text",),
    drift_null_jump: float = 0.02,
    drift_distinct_drop: float = 0.5,
    compact_every: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    on_batch: Callable[[int, int, int], None] | None = None,
    on_hold: Callable[[int, list[str]], None] | None = None,
    seed: int = 42,
    span_dir: str | None = None,
    span_window_tokens: int = 16,
    stage_sec: dict | None = None,
) -> StreamingQuery:
    """Start the unified multimodal ingest screen.

    ``stream_docs``: streaming frame with ``doc_id``, ``text``,
    ``embedding`` (array<double/float>).  ``corpus_docs``: static
    (doc_id, text).  ``corpus_emb``: the SAME corpus's embeddings as
    (doc_id, embedding) — keyed by doc_id, unlike the standalone
    semantic pipeline's vec_id.  Survivors of ALL screens land as
    full (doc_id, text, embedding) rows under
    ``accepted_dir/batch_id=N``; the quantizer lake under
    ``cells_dir`` follows the standalone semantic pipeline's layout.

    Replay contract: identical to the component pipelines — every
    corpus-side read is strict-inequality on the batch id, every
    write is an idempotent per-partition overwrite, and a replayed
    trigger recomputes the same verdicts (tested).

    ``on_batch(batch_id, n_raw, n_accepted)`` prices all five screens
    together.  Other options behave exactly as on
    :func:`run_dedup_ingest_pipeline` (drift HOLD dead-letters the
    whole batch with its embeddings, so a release re-screens the full
    rows) and :func:`run_semantic_ingest_pipeline`.  ``stage_sec``
    (optional) accumulates per-stage wall seconds across triggers —
    :func:`screen_multimodal_micro_batch`'s keys plus ``drift`` and
    ``quality`` — so a throughput number can be attributed to the
    stage that spends it (VERDICT r9 next-2)."""
    # the quantizer keys on doc_id here (vec_id on the semantic driver)
    return _Lake.of(
        corpus_docs.sparkSession, {**locals(), "id_col": "doc_id"}
    ).open().start(stream_docs, checkpoint_location)


def screen_multimodal_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_docs: DataFrame,
    corpus_emb: DataFrame,
    accepted_dir: str,
    cells_dir: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    n_bands: int = 8,
    semantic_threshold: float = 0.9,
    method: str = "sql",
    max_cell_size: int | None = None,
    signature_dir: str | None = None,
    exact_dir: str | None = None,
    corpus_upto: int | None = None,
    span_dir: str | None = None,
    span_window_tokens: int = 16,
    stage_sec: dict | None = None,
) -> tuple[int, int]:
    """One micro-batch of the unified screen past the drift/quality
    gates (exposed for direct replay-contract testing): the text
    stages over (doc_id, text), then semantic over the survivors'
    (doc_id, embedding), ONE full-row accepted write.
    Returns (n_in, n_accepted).  ``corpus_upto`` decouples the corpus
    cutoff from the partition id exactly as on
    :func:`screen_micro_batch` (the held-batch release path).

    ``stage_sec`` (optional) accumulates per-stage wall seconds —
    keys ``batch_ckpt`` / ``exact`` / ``span`` / ``near_dup`` /
    ``semantic`` / ``write_accept`` / ``increments`` — measured at
    the stages' existing eager materialization points (VERDICT r9
    next-2: attribute the multimodal probe's cost).  The near-dup
    plan is lazy until the survivors checkpoint, so ``near_dup``
    carries the LSH screen's actual execution.

    With ``span_dir`` the text leg runs the ExactSubstr excision
    stage (see :func:`screen_micro_batch`) — and because the stage
    REWRITES text, the accepted full rows carry the textual leg's
    (possibly cleaned) text joined back to the batch's embeddings,
    never the raw batch text."""
    lake = _Lake.of(
        batch_df.sparkSession, {**locals(), "id_col": "doc_id"}
    )
    batch, n_in = lake.checkpoint(batch_df)
    return n_in, lake.screen(batch, batch_id, corpus_upto)
