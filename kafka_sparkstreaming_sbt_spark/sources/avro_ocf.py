"""Pure-Python Avro binary codec (extension surface — the reference
DECLARES Avro + Schema Registry dependencies but ships JSON-only code,
SURVEY.md §2.11; ``sources.avro`` carries the gated spark-avro
wrappers, this module decodes Avro payloads and container files in
environments without the jar).

Format implemented from the public Avro 1.11 spec (container file +
binary encoding): magic ``Obj\\x01``, metadata map (``avro.schema``
JSON, ``avro.codec``), 16-byte sync marker, then blocks of
``(row_count, byte_size, payload, sync)`` with ``null`` or
``deflate`` (raw zlib) codecs.  Supported schemas: records of the
primitive types (boolean / int / long / float / double / bytes /
string) and their ``["null", T]`` nullable unions — the shape of
every Kafka-archive/CDC dump this engine's reference feeds on.

Spark-first distribution: the payload decodes run as ``mapInPandas``
over Arrow batches, so the driver never touches row data.
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_MAGIC = b"Obj\x01"

# ---------------------------------------------------------------- binary --


def _read_varint(buf: io.BytesIO) -> int:
    """Avro variable-length zigzag long."""
    shift = 0
    acc = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        acc |= (b[0] & 0x7F) << shift
        if not b[0] & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _write_varint(out: io.BytesIO, value: int) -> None:
    n = (value << 1) ^ (value >> 63)
    n &= (1 << 64) - 1
    while True:
        if n < 0x80:
            out.write(bytes([n]))
            return
        out.write(bytes([(n & 0x7F) | 0x80]))
        n >>= 7


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = _read_varint(buf)
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("truncated bytes")
    return data


def _read_bool(buf: io.BytesIO) -> bool:
    b = buf.read(1)
    if not b:
        # an empty read MUST raise like every other primitive: a
        # schema ending in a boolean would otherwise decode truncated
        # bodies to a fabricated False instead of the dead-letter path
        raise EOFError("truncated boolean")
    return b == b"\x01"


_PRIMITIVE_READERS = {
    "boolean": _read_bool,
    "int": _read_varint,
    "long": _read_varint,
    "float": lambda buf: struct.unpack("<f", buf.read(4))[0],
    "double": lambda buf: struct.unpack("<d", buf.read(8))[0],
    "bytes": _read_bytes,
    "string": lambda buf: _read_bytes(buf).decode("utf-8"),
}

_PRIMITIVE_SPARK_TYPES = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}


def _field_type(ftype: Any) -> tuple[str, int | None, bool]:
    """Normalize a field's schema to (primitive name, null branch
    index, is-union).  Accepts a primitive name, ``{"type": name}``,
    a SINGLE-branch union like ``["string"]``, or a two-branch
    nullable union in EITHER order — the union index on the wire is
    positional, so ``["string", "null"]`` encodes null as branch 1,
    not 0; conflating the two silently misreads every value (and the
    trailing-bytes guard would then null out whole records).  A null
    branch index of ``None`` means not nullable — but per the Avro
    spec EVERY union encodes a branch-index varint, even one-branch
    unions, so ``is_union`` is tracked separately: a ``["string"]``
    field still carries a leading 0 on the wire, and decoding it as
    a bare primitive would misalign every following field."""
    if isinstance(ftype, dict):
        ftype = ftype["type"]
    if isinstance(ftype, list):
        branches = [b["type"] if isinstance(b, dict) else b for b in ftype]
        non_null = [b for b in branches if b != "null"]
        if len(non_null) != 1 or len(branches) > 2:
            raise ValueError(f"unsupported union {ftype!r}")
        null_idx = branches.index("null") if "null" in branches else None
        if non_null[0] not in _PRIMITIVE_READERS:
            raise ValueError(f"unsupported avro type {non_null[0]!r}")
        return non_null[0], null_idx, True
    if ftype not in _PRIMITIVE_READERS:
        raise ValueError(f"unsupported avro type {ftype!r}")
    return ftype, None, False


def spark_schema_for(avro_schema: dict) -> T.StructType:
    """Spark StructType for a supported Avro record schema."""
    if avro_schema.get("type") != "record":
        raise ValueError("top-level schema must be a record")
    fields = []
    for f in avro_schema["fields"]:
        name, null_idx, _ = _field_type(f["type"])
        fields.append(
            T.StructField(
                f["name"], _PRIMITIVE_SPARK_TYPES[name], null_idx is not None
            )
        )
    return T.StructType(fields)


def _record_reader(avro_schema: dict):
    """Compile the schema to a list of (name, reader, null index)."""
    plan = []
    for f in avro_schema["fields"]:
        tname, null_idx, in_union = _field_type(f["type"])
        plan.append((f["name"], _PRIMITIVE_READERS[tname], null_idx, in_union))

    def read(buf: io.BytesIO) -> dict:
        row = {}
        for name, rdr, null_idx, in_union in plan:
            if in_union:
                # positional union index — present for EVERY union
                # per the spec, including one-branch unions; the null
                # branch's POSITION in the declared union, not
                # always 0
                idx = _read_varint(buf)
                if null_idx is None:
                    if idx != 0:
                        raise ValueError(f"invalid union index {idx}")
                    row[name] = rdr(buf)
                    continue
                if idx not in (0, 1):
                    raise ValueError(f"invalid union index {idx}")
                row[name] = None if idx == null_idx else rdr(buf)
            else:
                row[name] = rdr(buf)
        return row

    return read


# --------------------------------------------------------------- decoder --


def read_ocf_header(data: bytes) -> tuple[dict, str, bytes, int]:
    """Parse an OCF header: (schema dict, codec, sync marker, body
    offset)."""
    if data[:4] != _MAGIC:
        raise ValueError("not an Avro object container file")
    buf = io.BytesIO(data[4:])
    meta: dict[str, bytes] = {}
    while True:
        count = _read_varint(buf)
        if count == 0:
            break
        if count < 0:  # negative block count is followed by byte size
            count = -count
            _read_varint(buf)
        for _ in range(count):
            key = _read_bytes(buf).decode("utf-8")
            meta[key] = _read_bytes(buf)
    sync = buf.read(16)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec!r}")
    return schema, codec, sync, 4 + buf.tell()


def iter_ocf_records(data: bytes) -> Iterator[dict]:
    """Yield records from one container file's bytes."""
    schema, codec, sync, offset = read_ocf_header(data)
    read_record = _record_reader(schema)
    buf = io.BytesIO(data)
    buf.seek(offset)
    while True:
        head = buf.read(1)
        if not head:
            return
        buf.seek(-1, io.SEEK_CUR)
        n_rows = _read_varint(buf)
        payload = _read_bytes(buf)
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        block = io.BytesIO(payload)
        for _ in range(n_rows):
            yield read_record(block)
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch (corrupt block)")


def decode_avro_payloads(
    df: DataFrame,
    avro_schema: dict,
    payload_col: str = "avro_payload",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Jar-free ROW-level Avro decode — the missing leg of the
    Confluent Kafka chain (``sources.avro.decode_avro`` needs the
    spark-avro jar; this runs anywhere): a binary column of Avro
    record BODIES (what ``with_confluent_frame`` leaves in
    ``avro_payload`` after stripping the magic byte + schema id)
    becomes typed columns, decoded executor-side in Arrow batches by
    the same compiled reader the OCF source uses.

    NULL payloads (non-Registry frames routed by the frame splitter)
    AND framed-but-corrupt bodies (truncated / garbage bytes) decode
    to all-null fields instead of failing the batch — the PERMISSIVE
    contract of the JSON path, and what keeps one poison-pill message
    from killing a whole streaming query (the decode error would be
    upstream of foreachBatch, beyond any sink-side error handling).
    ``keep_cols`` pass through unchanged (e.g. ``("schema_id",)`` or
    Kafka metadata columns) — route corrupt rows to a dead-letter
    sink by filtering on an all-null decode with a kept raw column.

    Scale shape: one ``mapInPandas`` over the payload column — no
    shuffle, no driver involvement; the schema is compiled ONCE at
    plan time and closed over, not re-parsed per row."""
    import pandas as pd

    read_record = _record_reader(avro_schema)
    rec_schema = spark_schema_for(avro_schema)
    names = [f.name for f in rec_schema.fields]
    in_fields = {f.name: f for f in df.schema.fields}
    # every output field is nullable HERE even when the Avro schema
    # says required: a NULL payload (foreign frame) yields an all-null
    # row by contract, and a non-nullable Arrow field would make that
    # row a task-killing IllegalStateException instead of dead-letter
    # data
    out_schema = T.StructType(
        [in_fields[c] for c in keep_cols]
        + [
            T.StructField(f.name, f.dataType, True)
            for f in rec_schema.fields
        ]
    )
    nulls = dict.fromkeys(names)

    def read_or_null(body) -> dict:
        if body is None:
            return nulls
        try:
            buf = io.BytesIO(bytes(body))
            rec = read_record(buf)
            if buf.read(1):  # trailing bytes: wrong schema/garbage
                return nulls
            return rec
        except (EOFError, ValueError, UnicodeDecodeError, struct.error):
            return nulls

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [read_or_null(body) for body in pdf[payload_col]]
            out = pd.DataFrame(recs, columns=names)
            for c in reversed(keep_cols):
                out.insert(0, c, pdf[c].to_numpy())
            yield out

    return df.select(*keep_cols, payload_col).mapInPandas(
        decode, out_schema
    )


def decode_avro_payloads_by_id(
    df: DataFrame,
    schemas_by_id: dict[int, dict],
    payload_col: str = "avro_payload",
    id_col: str = "schema_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Schema-id-aware Avro decode — the registry-consumer shape
    (VERDICT r6 #7): a Confluent stream carries MULTIPLE writer
    schemas concurrently (old producers keep publishing generation 1
    while new ones publish generation 2), and the 4-byte schema id in
    each frame says which.  ``schemas_by_id`` is the registry's
    CACHED form — the id -> writer-schema map a real
    schema-registry client maintains; this engine takes it as data
    (the live fetch is an environmental gap, VERDICT r6 missing #4).

    Semantics:

    - each row decodes with ITS id's schema (readers compiled once at
      plan time, one per generation);
    - the output schema is the BY-NAME UNION of all generations'
      fields (ordered: ascending schema id, first-seen field order) —
      the superset view a registry consumer materializes; fields a
      row's generation lacks are null (additive-evolution reads);
    - a shared field name whose Spark type DIFFERS between
      generations is a hard ValueError at plan time — silent
      coexistence of e.g. int and string under one column is how
      type corruption enters a lake;
    - UNKNOWN ids (not in the map) and corrupt/truncated bodies
      decode all-null — the dead-letter contract of
      :func:`decode_avro_payloads`: filter all-null rows with a kept
      ``id_col``/raw column to route them.

    Scale shape: identical to the single-schema decode — one
    ``mapInPandas`` over (id, payload), zero shuffle, dict lookup per
    row against a handful of compiled readers."""
    import pandas as pd

    if not schemas_by_id:
        raise ValueError("schemas_by_id must contain at least one schema")
    union_fields: dict[str, T.StructField] = {}
    readers: dict[int, tuple] = {}
    for sid in sorted(schemas_by_id):
        schema = schemas_by_id[sid]
        rec_schema = spark_schema_for(schema)
        for f in rec_schema.fields:
            prev = union_fields.get(f.name)
            if prev is not None and prev.dataType != f.dataType:
                raise ValueError(
                    f"field {f.name!r} has conflicting types across "
                    f"schema generations: {prev.dataType} vs "
                    f"{f.dataType}"
                )
            union_fields.setdefault(
                f.name, T.StructField(f.name, f.dataType, True)
            )
        readers[sid] = (
            _record_reader(schema),
            [f.name for f in rec_schema.fields],
        )
    names = list(union_fields)
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [in_fields[c] for c in keep_cols] + list(union_fields.values())
    )
    nulls = dict.fromkeys(names)

    def read_or_null(sid, body) -> dict:
        entry = None if sid is None or pd.isna(sid) else readers.get(int(sid))
        if entry is None or body is None:
            return nulls  # unknown generation / foreign frame
        read_record, _ = entry
        try:
            buf = io.BytesIO(bytes(body))
            rec = read_record(buf)
            if buf.read(1):  # trailing bytes: wrong schema/garbage
                return nulls
            return {**nulls, **rec}
        except (EOFError, ValueError, UnicodeDecodeError, struct.error):
            return nulls

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [
                read_or_null(sid, body)
                for sid, body in zip(pdf[id_col], pdf[payload_col])
            ]
            out = pd.DataFrame(recs, columns=names)
            for c in reversed(keep_cols):
                out.insert(0, c, pdf[c].to_numpy())
            yield out

    cols = list(dict.fromkeys((*keep_cols, id_col, payload_col)))
    return df.select(*cols).mapInPandas(decode, out_schema)


def encode_record_bytes(record: dict, avro_schema: dict) -> bytes:
    """One record's Avro BINARY BODY (no container framing) — the
    test-side twin of :func:`decode_avro_payloads`, and what a
    Registry producer appends after the 5-byte Confluent header."""
    plan = [
        (f["name"], *_field_type(f["type"])) for f in avro_schema["fields"]
    ]
    out = io.BytesIO()
    for name, tname, null_idx, in_union in plan:
        _write_field(out, record.get(name), name, tname, null_idx, in_union)
    return out.getvalue()


def _write_field(
    out: io.BytesIO,
    v: Any,
    name: str,
    tname: str,
    null_idx: int | None,
    in_union: bool,
) -> None:
    """One field's wire bytes — shared by the body and OCF encoders.
    Unions always get their positional branch-index varint (one-branch
    unions emit 0), matching the reader and the Avro spec."""
    if in_union and null_idx is not None:
        # positional: write the branch the value actually sits in
        _write_varint(out, null_idx if v is None else 1 - null_idx)
        if v is None:
            return
    elif v is None:
        raise ValueError(f"null in non-nullable field {name}")
    elif in_union:
        _write_varint(out, 0)  # one-branch union still indexes
    _PRIMITIVE_WRITERS[tname](out, v)


# --------------------------------------------------------------- encoder --


_PRIMITIVE_WRITERS = {
    "boolean": lambda out, v: out.write(b"\x01" if v else b"\x00"),
    "int": _write_varint,
    "long": _write_varint,
    "float": lambda out, v: out.write(struct.pack("<f", v)),
    "double": lambda out, v: out.write(struct.pack("<d", v)),
    "bytes": lambda out, v: (_write_varint(out, len(v)), out.write(v)),
    "string": lambda out, v: (
        _write_varint(out, len(v.encode("utf-8"))),
        out.write(v.encode("utf-8")),
    ),
}


def write_ocf_bytes(
    records: list[dict],
    avro_schema: dict,
    codec: str = "deflate",
    sync: bytes = b"\x00" * 16,
    rows_per_block: int = 1000,
) -> bytes:
    """Encode records as a standards-compliant container file (the
    test-side twin of the reader; also usable to archive small control
    tables).  Deterministic: fixed sync marker by default."""
    plan = [
        (f["name"], *_field_type(f["type"])) for f in avro_schema["fields"]
    ]
    out = io.BytesIO()
    out.write(_MAGIC)
    meta = {
        "avro.schema": json.dumps(avro_schema).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    _write_varint(out, len(meta))
    for k, v in sorted(meta.items()):
        kb = k.encode("utf-8")
        _write_varint(out, len(kb))
        out.write(kb)
        _write_varint(out, len(v))
        out.write(v)
    out.write(b"\x00")  # end of metadata map
    out.write(sync)
    for start in range(0, len(records), rows_per_block):
        chunk = records[start:start + rows_per_block]
        block = io.BytesIO()
        for rec in chunk:
            for name, tname, null_idx, in_union in plan:
                _write_field(
                    block, rec.get(name), name, tname, null_idx, in_union
                )
        payload = block.getvalue()
        if codec == "deflate":
            payload = zlib.compress(payload)[2:-4]  # raw deflate body
        _write_varint(out, len(chunk))
        _write_varint(out, len(payload))
        out.write(payload)
        out.write(sync)
    return out.getvalue()
