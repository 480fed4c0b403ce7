"""JDBC batch source / sink (SURVEY.md §2.1 S4, §2.2 K2).

The reference reads back its Postgres sink table in tests
(CustomerSpendingIntegrationTest.scala:340-347, :486-493) and appends
per micro-batch (CustomerSpendingAnalysis.scala:110-118), swallowing
PK violations (CSA:172-175).  These helpers are LIVE-tested in
tests/test_jdbc.py against the embedded Derby engine that ships in
Spark's jar directory (``jdbc:derby:memory:``) — round trips, PK
rollback, both swallow modes, and the idempotent upsert.

``write_jdbc_upsert`` is the §7.4 "correctness mode": checkpoint +
idempotent sink = effectively-once delivery, replacing the
reference's swallow-and-drop contract.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, DataFrameReader, SparkSession


@dataclass(frozen=True)
class JdbcConfig:
    """Connection bundle (application.conf:1-10 analog)."""

    url: str
    table: str
    user: str = ""
    password: str = ""
    driver: str = "org.postgresql.Driver"
    #: per-executor write batching; the reference leaves Spark defaults.
    batchsize: int = 10_000
    #: cap concurrent connections hitting the DB from a big cluster.
    num_partitions: int | None = 8


def jdbc_reader(spark: SparkSession, cfg: JdbcConfig) -> DataFrameReader:
    """Configured JDBC reader (IT:340-347 analog)."""
    return (
        spark.read.format("jdbc")
        .option("url", cfg.url)
        .option("dbtable", cfg.table)
        .option("user", cfg.user)
        .option("password", cfg.password)
        .option("driver", cfg.driver)
    )


def write_jdbc_append(df: DataFrame, cfg: JdbcConfig) -> None:
    """Append ``df`` to the sink table (CSA:110-118).

    Scale notes vs the reference: executors open one connection per
    partition, so we coalesce to ``num_partitions`` before tiny-batch
    writes (SURVEY.md §4 'JDBC write parallelism') and set an explicit
    ``batchsize``.  The coalesce is unconditional: it never raises the
    partition count, and probing the count first
    (``df.rdd.getNumPartitions()``) makes AQE run the frame's shuffle
    stages as a job of their own, which the write then runs again.
    """
    out = df.coalesce(cfg.num_partitions) if cfg.num_partitions else df
    (
        out.write.format("jdbc")
        .option("url", cfg.url)
        .option("dbtable", cfg.table)
        .option("user", cfg.user)
        .option("password", cfg.password)
        .option("driver", cfg.driver)
        .option("batchsize", str(cfg.batchsize))
        .mode("append")
        .save()
    )


def _exec_statements(spark: SparkSession, cfg: JdbcConfig, *stmts: str) -> None:
    """Run DDL/DML on the driver over a plain JDBC connection (the
    Spark JDBC writer only does INSERT; staging cleanup and MERGE are
    single statements the database runs server-side)."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(
        cfg.url, cfg.user or None, cfg.password or None
    )
    try:
        st = conn.createStatement()
        for sql in stmts:
            st.executeUpdate(sql)
        st.close()
    finally:
        conn.close()


#: plain or schema-qualified SQL identifier — everything these helpers
#: interpolate into DML must match (no quotes, spaces, or statement
#: separators can smuggle through).
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?$")


def _checked_idents(*names: str) -> None:
    for n in names:
        if not _IDENT.match(n):
            raise ValueError(
                f"invalid SQL identifier {n!r}: only [A-Za-z0-9_] and an "
                "optional schema qualifier are accepted in table/column "
                "names interpolated into upsert statements"
            )


def sniff_dialect(url: str) -> str:
    """Upsert dialect from the JDBC URL: ``postgresql`` (the
    reference's actual sink database, IT:55-63) emits
    ``INSERT … ON CONFLICT``; everything else gets ANSI ``MERGE``
    (Derby — our live test engine — plus Oracle/MSSQL/DB2 accept it)."""
    return "postgresql" if url.startswith("jdbc:postgresql:") else "merge"


def upsert_statements(
    dialect: str,
    table: str,
    staging: str,
    columns: list[str],
    key_cols: list[str],
) -> list[str]:
    """The server-side statements that fold a loaded staging table into
    the target, per dialect — pure text generation so tests can pin the
    exact SQL without a database (the Postgres text is otherwise
    unexecutable in this sandbox).

    With no non-key columns an UPDATE clause would be malformed SQL;
    the row is either present or absent, so upsert degrades to
    insert-if-absent (``DO NOTHING`` / no ``WHEN MATCHED`` branch).
    """
    _checked_idents(table, staging, *columns)
    missing = [k for k in key_cols if k not in columns]
    if missing:
        raise ValueError(f"key_cols not in DataFrame columns: {missing}")
    non_keys = [c for c in columns if c not in key_cols]
    cols = ", ".join(columns)
    if dialect == "postgresql":
        conflict = ", ".join(key_cols)
        action = (
            "DO UPDATE SET "
            + ", ".join(f"{c} = EXCLUDED.{c}" for c in non_keys)
            if non_keys
            else "DO NOTHING"
        )
        merge = (
            f"INSERT INTO {table} ({cols}) "
            f"SELECT {cols} FROM {staging} "
            f"ON CONFLICT ({conflict}) {action}"
        )
    else:
        on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
        vals = ", ".join(f"s.{c}" for c in columns)
        matched = (
            "WHEN MATCHED THEN UPDATE SET "
            + ", ".join(f"t.{c} = s.{c}" for c in non_keys)
            + " "
            if non_keys
            else ""
        )
        merge = (
            f"MERGE INTO {table} t USING {staging} s ON {on} "
            f"{matched}"
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
        )
    return [merge, f"DELETE FROM {staging}"]


def write_jdbc_upsert(
    df: DataFrame,
    cfg: JdbcConfig,
    key_cols: list[str],
    staging_table: str | None = None,
) -> None:
    """IDEMPOTENT per-batch upsert — the correctness-mode sink
    (SURVEY.md §7.4): with a checkpointed foreachBatch, a replayed
    micro-batch re-stages the same rows and the MERGE converges to the
    same table state, so delivery is effectively-once — no swallowed
    PK errors, no silent drops, no duplicates.

    Standard Spark JDBC upsert shape (the JDBC datasource has no merge
    mode): (1) truncate + parallel-append the batch into a staging
    table (executors stream partitions concurrently, exactly like the
    plain append path); (2) one server-side ``MERGE`` from staging
    into the target — a single atomic statement, and the only
    driver-side step is issuing it.  The staging table must exist with
    the target's schema.

    The merge statement is dialect-aware (:func:`sniff_dialect`):
    Postgres — the reference's sink — gets ``INSERT … ON CONFLICT``,
    Derby and other ANSI engines get ``MERGE``.
    """
    staging = staging_table or f"{cfg.table}_staging"
    _checked_idents(cfg.table, staging)
    _exec_statements(df.sparkSession, cfg, f"DELETE FROM {staging}")
    write_jdbc_append(
        df, JdbcConfig(**{**cfg.__dict__, "table": staging})
    )
    _exec_statements(
        df.sparkSession,
        cfg,
        *upsert_statements(
            sniff_dialect(cfg.url), cfg.table, staging, df.columns, key_cols
        ),
    )
