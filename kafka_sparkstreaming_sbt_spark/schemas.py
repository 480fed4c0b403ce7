"""Fixed transaction schemas (SURVEY.md §1.2).

The reference declares two explicit StructTypes and applies them at
JSON-parse time via ``from_json`` (schema-on-read, PERMISSIVE):

- 7-field canonical  (CustomerSpendingAnalysis.scala:21-28)
- 8-field prototype  (CustomerSpendingAnalysisTrail.scala:15-23)

``from_json`` is lenient: the producer emits ``customer_id`` as a JSON
*number* (KafkaProducerApp.scala:41) against a String field and Spark
coerces; malformed rows become all-null structs.  Both behaviors are
pinned by tests/test_schemas.py.

``TABLE_SCHEMAS`` declares the driver testdata tables, so that reading
one infers nothing (``sources.batch.read_table``).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Canonical 7-field transaction (CustomerSpendingAnalysis.scala:21-28).
TRANSACTION_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.StringType(), True),
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("merchant_id", T.IntegerType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("amount", T.DoubleType(), True),
        T.StructField("payment_method", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
    ]
)

#: 8-field prototype variant (CustomerSpendingAnalysisTrail.scala:15-23):
#: drops merchant_id, adds currency + category.
TRANSACTION_SCHEMA_V8 = T.StructType(
    [
        T.StructField("transaction_id", T.StringType(), True),
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("amount", T.DoubleType(), True),
        T.StructField("currency", T.StringType(), True),
        T.StructField("payment_method", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
    ]
)

#: Sink-table schema (CustomerSpendingIntegrationTest.scala:55-63):
#: customer_daily_spending(customer_id, transaction_date, total_spent)
#: with PK (customer_id, transaction_date).
DAILY_SPENDING_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("transaction_date", T.DateType(), False),
        T.StructField("total_spent", T.DoubleType(), True),
    ]
)

#: Driver testdata ``events`` table -> transaction column mapping
#: (FIXTURES.md §1.4): event_id→transaction_id, user_id→customer_id,
#: ts→timestamp, value→amount, event_type→payment_method/status analog,
#: props (JSON string)→extras.
EVENTS_TO_TRANSACTIONS = {
    "event_id": "transaction_id",
    "user_id": "customer_id",
    "ts": "timestamp",
    "value": "amount",
    "event_type": "payment_method",
}

#: Schema of the ``props`` JSON payload carried by the events table.
EVENT_PROPS_SCHEMA = T.StructType(
    [T.StructField("k", T.IntegerType(), True)]
)


def columns(*cols: tuple[str, T.DataType]) -> T.StructType:
    """A declared parquet read schema: every column nullable, as a
    file source reads it."""
    return T.StructType([T.StructField(n, t, True) for n, t in cols])


_INT, _LONG, _DOUBLE = T.IntegerType(), T.LongType(), T.DoubleType()
_STRING, _TS = T.StringType(), T.TimestampType()

#: The driver testdata tables (TESTDATA.md), in file column order.
#: ``sources.batch.read_table`` reads with these, so no read infers a
#: schema.  A wrong name or type here reads as silent nulls or a scan
#: error; ``tests/test_declared_schemas.py`` pins each one to the schema
#: Spark infers from the files.
TABLE_SCHEMAS = {
    "region": columns(("r_regionkey", _INT), ("r_name", _STRING)),
    "nation": columns(
        ("n_nationkey", _INT), ("n_name", _STRING), ("n_regionkey", _INT)
    ),
    "customer": columns(
        ("c_custkey", _LONG),
        ("c_name", _STRING),
        ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE),
        ("c_mktsegment", _STRING),
    ),
    "supplier": columns(
        ("s_suppkey", _LONG),
        ("s_name", _STRING),
        ("s_nationkey", _INT),
        ("s_acctbal", _DOUBLE),
    ),
    "part": columns(
        ("p_partkey", _LONG),
        ("p_name", _STRING),
        ("p_brand", _STRING),
        ("p_type", _STRING),
        ("p_size", _INT),
        ("p_retailprice", _DOUBLE),
    ),
    "orders": columns(
        ("o_orderkey", _LONG),
        ("o_custkey", _LONG),
        ("o_orderstatus", _STRING),
        ("o_totalprice", _DOUBLE),
        ("o_orderdate", _TS),
        ("o_orderpriority", _STRING),
    ),
    "lineitem": columns(
        ("l_orderkey", _LONG),
        ("l_partkey", _LONG),
        ("l_suppkey", _LONG),
        ("l_linenumber", _INT),
        ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE),
        ("l_returnflag", _STRING),
        ("l_linestatus", _STRING),
        ("l_shipdate", _TS),
    ),
    "events": columns(
        ("event_id", _LONG),
        ("ts", _TS),
        ("user_id", _LONG),
        ("event_type", _STRING),
        ("value", _DOUBLE),
        ("props", _STRING),
    ),
    "documents": columns(
        ("doc_id", _LONG),
        ("text", _STRING),
        ("lang", _STRING),
        ("source", _STRING),
        ("n_chars", _LONG),
    ),
    "embeddings": columns(
        ("vec_id", _LONG),
        ("embedding", T.ArrayType(T.FloatType(), True)),
        ("label", _INT),
    ),
}
