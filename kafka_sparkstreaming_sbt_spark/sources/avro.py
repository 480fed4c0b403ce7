"""Avro payload decode (extension surface — the reference
DECLARES Confluent Avro + Schema Registry dependencies but ships
JSON-only code, SURVEY.md §2.11; this carries that intent).

``from_avro`` lives in the external ``spark-avro`` module (not
bundled with the PySpark pip distribution), so the decode is gated:
:func:`avro_available` probes for the jar and the wrapper raises a
clear error instead of an opaque Py4J failure when it is absent.  The
JSON-schema string format is Avro's own, e.g.::

    {"type": "record", "name": "txn", "fields": [
        {"name": "transaction_id", "type": "string"}, ...]}
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def avro_available(spark: SparkSession) -> bool:
    """True if the spark-avro module is on the session's classpath."""
    try:
        jvm = spark._jvm  # type: ignore[attr-defined]
        jvm.java.lang.Class.forName(
            "org.apache.spark.sql.avro.functions",
            False,
            jvm.Thread.currentThread().getContextClassLoader(),
        )
        return True
    except Exception:
        return False


def decode_avro(col: Column | str, json_schema: str) -> Column:
    """``from_avro(value, schema)`` — binary Kafka payloads -> struct
    (the Avro sibling of sources.kafka.parse_transactions)."""
    try:
        from pyspark.sql.avro.functions import from_avro
    except ImportError as exc:  # pragma: no cover
        raise ImportError(
            "spark-avro is not available; launch with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
        ) from exc
    return from_avro(col, json_schema)


def with_confluent_frame(
    df: DataFrame, value_col: str = "value"
) -> DataFrame:
    """Split Confluent Schema-Registry wire framing — the public
    ``[0x00 magic][4-byte big-endian schema id][avro body]`` layout
    every Registry-integrated producer emits (the reference's declared
    serializer, SURVEY.md §2.11) — into typed columns:

    - ``schema_id``: int (null when the magic byte isn't 0x00 — a
      non-Registry payload; route those to a dead-letter sink)
    - ``avro_payload``: the body bytes to hand to :func:`decode_avro`

    Pure built-in byte ops (substring on binary, hex -> conv), fully
    codegen'd — needs NO avro jar, so the framing is testable in this
    environment even though the decode itself stays gated.
    """
    value = F.col(value_col)
    is_framed = (F.length(value) >= 5) & (
        F.substring(value, 1, 1) == F.lit(bytes([0]))
    )
    # The wire field is a SIGNED big-endian int32.  conv() yields the
    # unsigned magnitude (0 .. 2^32-1); a direct .cast("int") on a
    # high-bit value would throw CAST_OVERFLOW under Spark 4's ANSI
    # default and kill the stream — the opposite of this function's
    # dead-letter-routing purpose.  Decode as long and reinterpret
    # the sign bit arithmetically instead, so every frame yields a
    # value (negative ids = malformed/foreign frames, routable).
    id_u32 = F.conv(F.hex(F.substring(value, 2, 4)), 16, 10).cast("long")
    schema_id = F.when(
        id_u32 >= F.lit(2**31), id_u32 - F.lit(2**32)
    ).otherwise(id_u32).cast("int")
    return df.withColumns(
        {
            "schema_id": F.when(is_framed, schema_id),
            "avro_payload": F.when(
                is_framed, F.expr(f"substring({value_col}, 6)")
            ),
        }
    )

