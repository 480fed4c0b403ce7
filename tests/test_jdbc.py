"""LIVE JDBC round-trip (SURVEY.md §2 S4/K2 — reference
CustomerSpendingIntegrationTest.scala:331-380, :468-496 run the same
checks against Postgres).

No external database or network: Apache Derby's embedded engine ships
inside Spark's own jar directory, so ``jdbc:derby:memory:`` gives a
real JDBC server in-process.  These tests EXECUTE ``jdbc_reader`` /
``write_jdbc_append`` — schema mapping, batching, append mode, and the
§2.9 PK-violation swallow semantics — not just option plumbing.
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_sparkstreaming_sbt_spark.sources.jdbc import (
    JdbcConfig,
    jdbc_reader,
    write_jdbc_append,
)
from kafka_sparkstreaming_sbt_spark.streaming.sinks import (
    start_foreach_batch_sink,
)

DERBY_URL = "jdbc:derby:memory:jdbctest;create=true"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

DAILY_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.StringType(), False),
        T.StructField("transaction_date", T.DateType(), False),
        T.StructField("total_spent", T.DoubleType(), True),
    ]
)


def _cfg(table: str) -> JdbcConfig:
    return JdbcConfig(
        url=DERBY_URL, table=table, driver=DERBY_DRIVER, num_partitions=2
    )


def _exec_ddl(spark, sql: str) -> None:
    conn = spark._jvm.java.sql.DriverManager.getConnection(DERBY_URL)
    try:
        st = conn.createStatement()
        st.executeUpdate(sql)
        st.close()
    finally:
        conn.close()


@pytest.fixture()
def daily_table(spark):
    """A fresh PK'd daily-spending table per test (the reference's
    Postgres sink table, IT:55-63)."""
    name = f"daily_{abs(hash(tempfile.mktemp())) % 10_000_000}"
    _exec_ddl(
        spark,
        f"CREATE TABLE {name} ("
        "customer_id VARCHAR(32) NOT NULL, "
        "transaction_date DATE NOT NULL, "
        "total_spent DOUBLE, "
        "PRIMARY KEY (customer_id, transaction_date))",
    )
    yield name
    _exec_ddl(spark, f"DROP TABLE {name}")


def _daily_df(spark, rows):
    return spark.createDataFrame(
        [(c, dt.date.fromisoformat(d), v) for c, d, v in rows],
        DAILY_SCHEMA,
    )


def _read_back(spark, table: str):
    df = jdbc_reader(spark, _cfg(table)).load()
    return {
        (r.CUSTOMER_ID, str(r.TRANSACTION_DATE), r.TOTAL_SPENT)
        for r in df.collect()
    }


def test_jdbc_write_then_read_back(spark, daily_table):
    """IT:331-347 analog: append a daily rollup, read it back via the
    JDBC source, values and schema survive the round trip."""
    rows = [("1", "2025-03-10", 250.0), ("2", "2025-03-10", 99.5)]
    write_jdbc_append(_daily_df(spark, rows), _cfg(daily_table))
    assert _read_back(spark, daily_table) == {
        ("1", "2025-03-10", 250.0),
        ("2", "2025-03-10", 99.5),
    }
    # appends accumulate (mode is append, not overwrite)
    write_jdbc_append(
        _daily_df(spark, [("3", "2025-03-11", 10.0)]), _cfg(daily_table)
    )
    assert len(_read_back(spark, daily_table)) == 3


def test_jdbc_append_runs_a_shuffled_plan_once(spark, daily_table):
    """A batch frame with a shuffle is written in its two AQE jobs (the
    shuffle-map stage, then the write): probing its partition count
    before the coalesce ran the shuffle as one more job, and the write
    ran it again."""
    import uuid

    from perfbench.tracing import JobGroups

    daily = (
        spark.range(2000)
        .select(
            (F.col("id") % 50).cast("string").alias("customer_id"),
            F.lit(dt.date(2025, 3, 10)).alias("transaction_date"),
            F.col("id").cast("double").alias("v"),
        )
        .groupBy("customer_id", "transaction_date")
        .agg(F.sum("v").alias("total_spent"))
    )
    jobs, gid = JobGroups(spark), f"jdbc-{uuid.uuid4()}"
    with jobs.group(gid):
        write_jdbc_append(daily, _cfg(daily_table))
    assert len(jobs.job_ids(gid)) <= 2
    assert len(_read_back(spark, daily_table)) == 50


def test_jdbc_pk_violation_raises_and_rolls_back(spark, daily_table):
    """IT:468-496 analog: appending rows whose (customer, date) key
    already exists violates the PRIMARY KEY; the failed partition is
    rolled back, leaving the table unchanged."""
    rows = [("1", "2025-03-10", 250.0)]
    write_jdbc_append(_daily_df(spark, rows), _cfg(daily_table))
    with pytest.raises(Exception, match="(?i)duplicate key|constraint"):
        write_jdbc_append(_daily_df(spark, rows), _cfg(daily_table))
    assert _read_back(spark, daily_table) == {("1", "2025-03-10", 250.0)}


def _stream_one_batch(spark, d: str, payload: dict):
    tmp = f"{d}/.b0.tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(payload) + "\n")
    shutil.move(tmp, f"{d}/b0.txt")
    raw = spark.readStream.format("text").load(d)
    return raw.select(
        F.get_json_object("value", "$.customer_id").alias("customer_id"),
        F.to_date(F.get_json_object("value", "$.transaction_date")).alias(
            "transaction_date"
        ),
        F.get_json_object("value", "$.total_spent")
        .cast("double")
        .alias("total_spent"),
    )


@pytest.mark.parametrize("swallow", [True, False])
def test_streaming_pk_append_swallow_modes(spark, daily_table, swallow):
    """§2.9: the reference's foreachBatch JDBC append swallows
    PK-violation batches (log-and-continue, at-least-once with silent
    drop); strict mode must surface the failure instead.  Driven
    against a REAL PK'd table through a real streaming query."""
    write_jdbc_append(
        _daily_df(spark, [("1", "2025-03-10", 250.0)]), _cfg(daily_table)
    )
    d = tempfile.mkdtemp()
    try:
        dup = {
            "customer_id": "1",
            "transaction_date": "2025-03-10",
            "total_spent": 250.0,
        }
        stream = _stream_one_batch(spark, d, dup)
        q = start_foreach_batch_sink(
            stream,
            lambda batch_df, _id: write_jdbc_append(
                batch_df, _cfg(daily_table)
            ),
            output_mode="append",
            checkpoint_location=tempfile.mkdtemp(),
            swallow_errors=swallow,
        )
        try:
            if swallow:
                q.processAllAvailable()  # logs and continues
                assert q.exception() is None
            else:
                with pytest.raises(Exception):
                    q.processAllAvailable()
        finally:
            q.stop()
        # either way the duplicate row never lands twice
        assert _read_back(spark, daily_table) == {
            ("1", "2025-03-10", 250.0)
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def staged_daily_table(spark, daily_table):
    """The daily table plus its same-schema staging sibling."""
    staging = f"{daily_table}_staging"
    _exec_ddl(
        spark,
        f"CREATE TABLE {staging} ("
        "customer_id VARCHAR(32) NOT NULL, "
        "transaction_date DATE NOT NULL, "
        "total_spent DOUBLE)",
    )
    yield daily_table, staging
    _exec_ddl(spark, f"DROP TABLE {staging}")


def test_jdbc_upsert_is_idempotent_and_updates(spark, staged_daily_table):
    """§7.4 correctness mode: re-delivering a batch converges to the
    same state (checkpoint replay safe), and changed totals UPDATE
    instead of violating the PK."""
    from kafka_sparkstreaming_sbt_spark.sources.jdbc import (
        write_jdbc_upsert,
    )

    table, staging = staged_daily_table
    keys = ["customer_id", "transaction_date"]
    batch = _daily_df(
        spark, [("1", "2025-03-10", 250.0), ("2", "2025-03-10", 99.5)]
    )
    write_jdbc_upsert(batch, _cfg(table), keys, staging_table=staging)
    # replay the identical batch: no PK violation, no duplicates
    write_jdbc_upsert(batch, _cfg(table), keys, staging_table=staging)
    assert _read_back(spark, table) == {
        ("1", "2025-03-10", 250.0),
        ("2", "2025-03-10", 99.5),
    }
    # an updated total for an existing key MERGEs in place; new key inserts
    batch2 = _daily_df(
        spark, [("1", "2025-03-10", 300.0), ("3", "2025-03-11", 10.0)]
    )
    write_jdbc_upsert(batch2, _cfg(table), keys, staging_table=staging)
    assert _read_back(spark, table) == {
        ("1", "2025-03-10", 300.0),
        ("2", "2025-03-10", 99.5),
        ("3", "2025-03-11", 10.0),
    }


def test_upsert_postgres_dialect_sql_text():
    """VERDICT r2 #3: the reference's sink is PK'd Postgres (IT:55-63),
    which has no MERGE until v15 — pin the exact ``INSERT … ON
    CONFLICT`` text we'd send it (unexecutable in this sandbox, so the
    text IS the contract)."""
    from kafka_sparkstreaming_sbt_spark.sources.jdbc import (
        sniff_dialect,
        upsert_statements,
    )

    url = "jdbc:postgresql://db:5432/spending"
    assert sniff_dialect(url) == "postgresql"
    assert sniff_dialect(DERBY_URL) == "merge"
    stmts = upsert_statements(
        "postgresql",
        "daily_spending",
        "daily_spending_staging",
        ["customer_id", "transaction_date", "total_spent"],
        ["customer_id", "transaction_date"],
    )
    assert stmts == [
        "INSERT INTO daily_spending "
        "(customer_id, transaction_date, total_spent) "
        "SELECT customer_id, transaction_date, total_spent "
        "FROM daily_spending_staging "
        "ON CONFLICT (customer_id, transaction_date) "
        "DO UPDATE SET total_spent = EXCLUDED.total_spent",
        "DELETE FROM daily_spending_staging",
    ]


def test_upsert_statement_guards():
    """ADVICE r2: all-key DataFrames degrade to insert-if-absent
    instead of emitting a malformed empty UPDATE SET, and identifiers
    are validated before interpolation."""
    from kafka_sparkstreaming_sbt_spark.sources.jdbc import (
        upsert_statements,
    )

    keys_only = upsert_statements(
        "postgresql", "t", "t_staging", ["a", "b"], ["a", "b"]
    )
    assert keys_only[0].endswith("ON CONFLICT (a, b) DO NOTHING")
    merge_keys_only = upsert_statements(
        "merge", "t", "t_staging", ["a"], ["a"]
    )
    assert "UPDATE SET" not in merge_keys_only[0]
    assert "WHEN NOT MATCHED THEN INSERT (a) VALUES (s.a)" in (
        merge_keys_only[0]
    )
    with pytest.raises(ValueError, match="invalid SQL identifier"):
        upsert_statements(
            "merge", "t; DROP TABLE x", "t_staging", ["a"], ["a"]
        )
    with pytest.raises(ValueError, match="invalid SQL identifier"):
        upsert_statements("merge", "t", "t_staging", ['a"'], ["a"])
    with pytest.raises(ValueError, match="key_cols not in"):
        upsert_statements("merge", "t", "t_staging", ["a"], ["missing"])
    # schema-qualified names are legitimate
    assert upsert_statements(
        "postgresql", "public.t", "public.t_staging", ["a", "b"], ["a"]
    )


def test_upsert_postgres_sql_executes_on_duckdb():
    """The Postgres dialect path EXECUTED, not just pinned: DuckDB
    implements Postgres-compatible ``INSERT … ON CONFLICT``, so the
    exact statements we'd send a Postgres sink run here against a
    real PK'd table — update-in-place, insert-new, idempotent replay,
    staging cleanup."""
    import duckdb

    from kafka_sparkstreaming_sbt_spark.sources.jdbc import (
        upsert_statements,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE daily (customer_id VARCHAR NOT NULL, "
        "transaction_date DATE NOT NULL, total_spent DOUBLE, "
        "PRIMARY KEY (customer_id, transaction_date))"
    )
    con.execute(
        "CREATE TABLE daily_staging (customer_id VARCHAR, "
        "transaction_date DATE, total_spent DOUBLE)"
    )
    stmts = upsert_statements(
        "postgresql",
        "daily",
        "daily_staging",
        ["customer_id", "transaction_date", "total_spent"],
        ["customer_id", "transaction_date"],
    )

    def run_batch(rows):
        con.execute("DELETE FROM daily_staging")
        con.executemany(
            "INSERT INTO daily_staging VALUES (?, ?, ?)", rows
        )
        for s in stmts:
            con.execute(s)

    batch = [("1", "2025-03-10", 250.0), ("2", "2025-03-10", 99.5)]
    run_batch(batch)
    run_batch(batch)  # replay: no PK violation, no duplicates
    assert sorted(con.execute("SELECT * FROM daily").fetchall()) == [
        ("1", dt.date(2025, 3, 10), 250.0),
        ("2", dt.date(2025, 3, 10), 99.5),
    ]
    # changed total updates in place; new key inserts
    run_batch([("1", "2025-03-10", 300.0), ("3", "2025-03-11", 10.0)])
    assert sorted(con.execute("SELECT * FROM daily").fetchall()) == [
        ("1", dt.date(2025, 3, 10), 300.0),
        ("2", dt.date(2025, 3, 10), 99.5),
        ("3", dt.date(2025, 3, 11), 10.0),
    ]
    # staging is cleaned after each merge
    assert con.execute("SELECT COUNT(*) FROM daily_staging").fetchone()[0] == 0


def test_jdbc_upsert_key_only_dataframe_live(spark):
    """The all-key degradation path executed against live Derby: a
    two-key table with no payload columns — replays insert nothing new
    and never emit malformed SQL."""
    from kafka_sparkstreaming_sbt_spark.sources.jdbc import (
        write_jdbc_upsert,
    )

    name = f"seen_{abs(hash(tempfile.mktemp())) % 10_000_000}"
    _exec_ddl(
        spark,
        f"CREATE TABLE {name} (customer_id VARCHAR(32) NOT NULL, "
        "transaction_date DATE NOT NULL, "
        "PRIMARY KEY (customer_id, transaction_date))",
    )
    _exec_ddl(
        spark,
        f"CREATE TABLE {name}_staging (customer_id VARCHAR(32) NOT NULL, "
        "transaction_date DATE NOT NULL)",
    )
    try:
        df = spark.createDataFrame(
            [("1", dt.date(2025, 3, 10))],
            "customer_id string, transaction_date date",
        )
        write_jdbc_upsert(df, _cfg(name), ["customer_id", "transaction_date"])
        write_jdbc_upsert(df, _cfg(name), ["customer_id", "transaction_date"])
        rows = jdbc_reader(spark, _cfg(name)).load().collect()
        assert len(rows) == 1
    finally:
        _exec_ddl(spark, f"DROP TABLE {name}")
        _exec_ddl(spark, f"DROP TABLE {name}_staging")
