"""JDBC scan/sink surface (SURVEY §2.2 D3/D5, §2.1 R21).

The reference writes MySQL row-at-a-time with unbounded exponential
backoff (/root/reference/charlotte/__init__.py:372-433). The Spark
shape is set-wise: `df.write.jdbc(mode="append")` per fact batch inside
`foreachBatch`, wrapped in the same backoff (`with_retry`), idempotent
on `(sid, cid)` natural keys because JDBC commits are not coordinated
with the streaming checkpoint (SURVEY §7 hard #1).

No external database server exists in this container, but Spark ships
embedded Apache Derby (for the Hive metastore), which has a real JDBC
driver — so D3/D5 and the full JDBC star pipeline ARE exercised here
against `jdbc:derby:memory:` endpoints (`d3_jdbc_scan`, `d5_jdbc_sink`,
tests/test_jdbc.py). MySQL specifics live in mysql_dialect.py
(type/quote mapping, snorby DDL with natural-key replay backstops,
ON DUPLICATE KEY UPDATE, INET_ATON equivalence vectors), golden-tested
in tests/test_mysql_dialect.py since no MySQL server exists here; the
engine-side JDBC path — partitioned reads, batched appends, retry,
dialect type mapping — runs for real against Derby. The retry
semantics are additionally unit-tested with fakes in
tests/test_streaming.py; `JdbcSnorbyDB` mirrors `SnorbyDB`'s interface
so `apply_batch` works unchanged against a real endpoint. Table names
and schemas come from the star's one declaration
(streaming/snorby.py ``STAR_TABLES``; ``sql_table`` maps the parquet
tier's ``_batches`` ledger to ``meta_batches``). A small-table read
treats only a missing table as empty — the first run; any other error
raises after the retries, since reading a failed SELECT as an empty
sensor table or ledger would re-number sensors or re-apply batches.

At scale: each executor partition opens its own connection
(`numPartitions` bounds the connection fan-in); dimension upserts stay
single-writer (anti-join-then-append races otherwise — same assumption
the reference makes, backstopped by unique keys in DDL).

MySQL dialect parity notes (what changes off-Derby, none of it
engine-side logic):
- identifier quoting: Spark's MySQLDialect quotes with backticks
  automatically; no table/column here needs quoting in either dialect.
- upsert: the reference relies on MySQL `INSERT ... ON DUPLICATE KEY
  UPDATE` semantics implicitly (unique keys absorb replays). This
  engine gets idempotence from the applied-batch marker + natural-key
  anti-joins instead, which is dialect-neutral; on MySQL the DDL's
  unique keys remain the final backstop, as in the reference.
- type mapping: the star uses only int/bigint/varchar/timestamp, which
  map 1:1 in both Derby and MySQL JDBC dialects (no decimal/blob edge
  cases in this schema; payload hex is varchar by design, matching the
  reference's `data_payload` text column).
- `inet_aton(%s)` (charlotte/__init__.py:488) is MySQL-only; the engine
  computes the dotted-quad → bigint conversion in Spark (S9 row) so the
  SQL sent over JDBC is dialect-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import local_df
from ..streaming.snorby import STAR_TABLES, sql_table, with_retry


def _missing_table(e: Exception) -> bool:
    """Missing table/view: Derby 42X05, MySQL 42S02, generic 'does not
    exist'."""
    return any(tok in str(e) for tok in ("42X05", "42S02", "not exist"))


def _permanent_sql_error(e: Exception) -> bool:
    """Errors retrying cannot fix: a missing table/view or SQL syntax
    (42X01). Everything else (connection reset, lock timeout, node
    loss) stays retryable."""
    return _missing_table(e) or "42X01" in str(e)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict | None = None,
    predicates: list[str] | None = None,
) -> DataFrame:
    """D3: JDBC scan with retry; `predicates` split the read into one
    partition per predicate (the parallel-scan shape)."""
    def _read():
        reader = spark.read
        if predicates:
            return reader.jdbc(url, table, predicates=predicates, properties=properties or {})
        return reader.jdbc(url, table, properties=properties or {})

    return with_retry(_read, fatal=_permanent_sql_error)


def write_jdbc_append(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict | None = None,
    batchsize: int = 10_000,
    num_partitions: int | None = None,
) -> None:
    """D5/R21: append with bounded connection fan-in and backoff."""
    def _write():
        out = df.repartition(num_partitions) if num_partitions else df
        (
            out.write.option("batchsize", str(batchsize))
            .jdbc(url, table, mode="append", properties=properties or {})
        )

    with_retry(_write)


class JdbcSnorbyDB:
    """SnorbyDB-compatible facade over a real database endpoint: same
    read/append/read_small/overwrite_small/applied_batches surface
    `apply_batch` uses, so the streaming pipeline switches sinks by
    constructor alone."""

    def __init__(self, spark: SparkSession, url: str, properties: dict | None = None):
        self.spark = spark
        self.url = url
        self.properties = properties or {}

    def read(self, name: str, schema: str | None = None) -> DataFrame:
        return read_jdbc(self.spark, self.url, sql_table(name), self.properties)

    def append(self, name: str, df: DataFrame) -> None:
        write_jdbc_append(df, self.url, sql_table(name), self.properties)

    def read_small(self, name: str, schema: str | None = None) -> list[dict]:
        """KB-sized table as driver-side rows: one bounded SELECT (the
        reference's cache-fill reads, :543-552), retried as a whole.
        Only a missing table reads as empty."""

        def rows() -> list[dict]:
            df = self.spark.read.jdbc(self.url, sql_table(name), properties=self.properties)
            return [r.asDict() for r in df.collect()]

        try:
            return with_retry(rows, fatal=_permanent_sql_error)
        except Exception as e:  # noqa: BLE001 — classified below
            if _missing_table(e):  # first run
                return []
            raise

    def overwrite_small(self, name: str, rows: list[dict], schema: str | None = None) -> None:
        df = local_df(self.spark, rows, schema or STAR_TABLES[name][0])
        with_retry(
            lambda: df.write.jdbc(
                self.url, sql_table(name), mode="overwrite", properties=self.properties
            )
        )

    def applied_batches(self) -> set[int]:
        return {r["batch_id"] for r in self.read_small("_batches")}

    def mark_applied(self, batch_id: int) -> None:
        self.append(
            "_batches", local_df(self.spark, [(batch_id,)], STAR_TABLES["_batches"][0])
        )

    def create_schema(self, run_sql, dialect: str = "mysql") -> None:
        """Provision the star on the endpoint: executes the dialect's
        DDL (mysql_dialect.ddl_statements — golden-tested strings)
        through the caller-supplied ``run_sql(statement)``, because raw
        DDL needs a statement channel Spark's DataFrame API doesn't
        expose (MySQLdb cursor, JayDeBeApi, an ops migration tool)."""
        from .mysql_dialect import ddl_statements

        for stmt in ddl_statements(dialect):
            run_sql(stmt)
