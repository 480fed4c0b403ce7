"""Pure-Python WARC/WET web-archive source (extension surface —
SURVEY §2.12: the canonical 100 TB pretraining corpus is Common Crawl,
shipped as WARC/WET archives, and this engine's ingest story needs to
read them without external jars or crawl libraries).

Format implemented from the public ISO 28500 / WARC 1.0 spec (the
format of Common Crawl's ``*.warc`` and ``*.warc.wet`` files): records
of ``WARC/1.0`` + CRLF header block + ``Content-Length``-delimited
body + CRLF CRLF trailer, optionally gzip-compressed (whole-file or
the standard per-record concatenated-member gzip — both handled by a
decompressobj loop).  WET "conversion" records carry extracted plain
text — the pretraining-relevant payload.

Spark-first distribution: ``spark.read.format("binaryFile")`` ships
each archive's bytes to an executor and ``mapInPandas`` parses there
— the driver never touches record data.  The parallelism unit is the
file (Common Crawl WET segments are ~150 MB, tens of thousands per
crawl — natural partition grain); records stream out in bounded
pandas batches.  A malformed
record dead-letters as a null row carrying ``error`` instead of
failing the task — one corrupt segment must not kill a 100 TB ingest.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_CRLF = b"\r\n"

#: fixed WARC-Date for the deterministic writer: reruns must produce
#: byte-identical archives (the oracle replays the round trip)
_EPOCH_DATE = "2000-01-01T00:00:00Z"


def _gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (the standard WARC
    layout: one member per record) into one byte stream; plain
    whole-file gzip is the single-member case.

    Quadratic traps, both hit at Common Crawl member counts (~30K
    members per segment): a ``data[pos:]`` bytes slice per member
    copies the whole remainder (O(bytes²) — measured 0.2 MB/s), and
    CPython's ``gzip.decompress`` does the same internally
    (``data[fp.tell():]`` + a fresh ``unused_data`` bytes object per
    member — measured 1.2 ms/record at 31K members vs 70 µs at 3K).
    This loop instead feeds ONE decompressobj fixed-size chunks and
    hands the small ``unused_data`` tail to a fresh object at each
    member boundary — O(total bytes), and a damaged member simply
    ends the stream with everything before it intact."""
    out: list[bytes] = []
    mv = memoryview(data)
    pos, chunk = 0, 1 << 20
    d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
    pending: bytes | memoryview = b""
    while True:
        if len(pending):
            feed, pending = pending, b""
        elif pos < len(mv):
            feed = mv[pos : pos + chunk]
            pos += chunk
        else:
            break
        try:
            out.append(d.decompress(feed))
        except zlib.error:
            break  # damaged member: keep what decoded cleanly
        if d.eof:
            # next member starts inside this chunk's tail (small)
            pending = d.unused_data
            d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
    try:
        out.append(d.flush())
    except zlib.error:
        pass
    result = b"".join(out)
    if not result and data:
        raise OSError("no decodable gzip member")
    return result


def iter_warc_records(data: bytes) -> Iterator[dict]:
    """Yield parsed records from raw (or gzipped) WARC bytes:
    ``{warc_type, target_uri, warc_date, content_type,
    content_length, body, error}``.  A record with a malformed
    header or truncated body yields once with ``error`` set and
    parsing stops (framing is lost past a bad Content-Length)."""
    if data[:2] == b"\x1f\x8b":
        try:
            data = _gunzip_members(data)
        except (OSError, zlib.error) as e:
            yield {"error": f"gzip: {e}"}
            return
    buf = io.BytesIO(data)
    while True:
        line = buf.readline()
        if not line:
            return
        if line.strip() == b"":
            continue
        if not line.startswith(b"WARC/"):
            yield {"error": f"bad version line: {line[:40]!r}"}
            return
        headers: dict[str, str] = {}
        while True:
            h = buf.readline()
            if h in (b"", _CRLF, b"\n"):
                break
            try:
                k, _, v = h.decode("utf-8", "replace").partition(":")
                headers[k.strip().lower()] = v.strip()
            except ValueError:
                pass
        try:
            n = int(headers.get("content-length", ""))
        except ValueError:
            yield {"error": "missing/invalid Content-Length"}
            return
        body = buf.read(n)
        if len(body) != n:
            yield {"error": f"truncated body: want {n} got {len(body)}"}
            return
        yield {
            "warc_type": headers.get("warc-type"),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": headers.get("content-type"),
            "content_length": n,
            "body": body,
            "error": None,
        }


_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("record_idx", T.LongType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def parse_warc_records(
    files: DataFrame, batch_rows: int = 2048
) -> DataFrame:
    """Parse a ``binaryFile`` frame (``path``, ``content``) into WARC
    record rows (schema above; ``text`` is the utf-8 body, lossy on
    invalid bytes — crawl reality).  One file per task, records
    streamed out in ≤ ``batch_rows`` pandas chunks so a large segment
    never materializes as one Python list."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                rows: list[dict] = []
                for i, rec in enumerate(iter_warc_records(bytes(content))):
                    body = rec.get("body")
                    rows.append(
                        {
                            "path": path,
                            "record_idx": i,
                            "warc_type": rec.get("warc_type"),
                            "target_uri": rec.get("target_uri"),
                            "warc_date": rec.get("warc_date"),
                            "content_type": rec.get("content_type"),
                            "content_length": rec.get("content_length"),
                            "text": (
                                body.decode("utf-8", "replace")
                                if body is not None
                                else None
                            ),
                            "error": rec.get("error"),
                        }
                    )
                    if len(rows) >= batch_rows:
                        yield pd.DataFrame(rows)
                        rows = []
                if rows:
                    yield pd.DataFrame(rows)

    from kafka_sparkstreaming_sbt_spark.plans import (
        parallelize_for_compute,
    )

    # binaryFile packs files into 128 MB partitions by BYTES — right
    # for I/O, wrong for a CPU-bound parse over many small segments
    # (32 × 170 KB files land in ONE partition and run
    # single-threaded; measured 5.4 s -> 1.5 s at 20K pages).  The
    # rebalance moves each file's bytes once; at Common Crawl's
    # ~150 MB segment size files already map 1:1 to partitions and
    # the repartition is a near-no-op.
    return parallelize_for_compute(
        files.select("path", "content")
    ).mapInPandas(parse, _RECORD_SCHEMA)


def read_wet(
    spark: SparkSession, path_glob: str, batch_rows: int = 2048
) -> DataFrame:
    """Read WET archives into ``(url, text, content_length, path,
    record_idx)`` — conversion records only, parse errors dropped
    (inspect :func:`parse_warc_records` output for the dead letters).
    Filters run BEFORE the row explosion where possible; the binary
    scan itself is file-parallel."""
    from pyspark.sql import functions as F

    files = spark.read.format("binaryFile").load(path_glob)
    recs = parse_warc_records(files, batch_rows)
    return recs.filter(
        F.col("error").isNull() & (F.col("warc_type") == "conversion")
    ).select(
        F.col("target_uri").alias("url"),
        "text",
        "content_length",
        "path",
        "record_idx",
    )


def wet_bytes(records: list[tuple[str, str]], compress: bool = False) -> bytes:
    """Serialize ``(url, text)`` pairs as a WET archive — the
    deterministic writer (fixed date, md5-derived record ids) used by
    round-trip tests and the gate query; ``compress=True`` emits the
    standard one-gzip-member-per-record layout."""
    out = io.BytesIO()
    for url, text in records:
        body = text.encode("utf-8")
        rid = hashlib.md5(url.encode("utf-8")).hexdigest()
        head = (
            f"WARC/1.0\r\n"
            f"WARC-Type: conversion\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {_EPOCH_DATE}\r\n"
            f"WARC-Record-ID: <urn:md5:{rid}>\r\n"
            f"Content-Type: text/plain\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode("utf-8")
        rec = head + body + _CRLF + _CRLF
        if compress:
            g = io.BytesIO()
            with gzip.GzipFile(
                fileobj=g, mode="wb", mtime=0
            ) as z:  # mtime pinned: byte-identical reruns
                z.write(rec)
            rec = g.getvalue()
        out.write(rec)
    return out.getvalue()
