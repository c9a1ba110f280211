"""Shared fixtures: SparkSession + DuckDB oracle harness.

Mirrors the driver's correctness gate (SURVEY §5.2 t2): run the
registered PySpark query and its DuckDB oracle SQL over the same
parquet, canonicalize values, and compare order-insensitively.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
from collections import Counter

import duckdb
import numpy as np
import pytest

from charlotte_spark.catalog import TABLE_NAMES
from charlotte_spark.session import get_spark

# t1 smoke scale by default for speed; CI can point at sf0.01 (t2 scale).
SF_DIR = os.environ.get("CHARLOTTE_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("charlotte-spark-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


def star_multiset(db) -> dict[str, Counter]:
    """Every table of the snorby star ``db`` but the ``_batches`` ledger,
    as a multiset of rows. A stream assigns the surrogate ``sig_id`` by
    first sight per batch, one batch run over all signatures at once, so
    ``signature`` rows and ``event.signature`` carry the signature's
    natural key instead."""
    from charlotte_spark.streaming.snorby import STAR_TABLES

    rows = {
        t: [r.asDict() for r in db.read(t).collect()]
        for t in STAR_TABLES
        if t != "_batches"
    }
    natural = {}
    for r in rows["signature"]:
        natural[r.pop("sig_id")] = tuple(r.values())
    for r in rows["event"]:
        r["signature"] = natural.get(r["signature"])
    return {t: Counter(tuple(r.values()) for r in rs) for t, rs in rows.items()}


@pytest.fixture(scope="session")
def assert_star_matches_batch(spark):
    """Check a star, table by table and row for row (`star_multiset`),
    against the star of one uninterrupted batch run over the default
    fixture, built once per session."""
    from charlotte_spark.queries.charlotte_pipeline import _fresh_db, run_batch_pipeline

    ref = _fresh_db(spark, "reference_star")
    run_batch_pipeline(spark, ref)
    want = star_multiset(ref)

    def check(db) -> None:
        got = star_multiset(db)
        diff = {
            t: f"{sum(got[t].values())} rows, want {sum(want[t].values())} "
               f"(+{sum((got[t] - want[t]).values())} "
               f"-{sum((want[t] - got[t]).values())})"
            for t in want
            if got[t] != want[t]
        }
        assert not diff, f"star differs from the uninterrupted run: {diff}"

    return check


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def canon(v):
    """Canonicalize a cell value so Spark and DuckDB results compare equal."""
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        # Tagged like Decimal below: the driver's hash is type-sensitive,
        # so a Spark BIGINT (e.g. floor/ceil) vs a DuckDB DOUBLE oracle
        # must fail locally too, even though Python 1234 == 1234.0
        # (the r03 d46 lesson).
        return ("i", int(v))
    if isinstance(v, decimal.Decimal):
        # Deliberately NOT coerced to float: the driver's hash distinguishes
        # Decimal('263541.150000') from 263541.15 (it cost us d27 in round 1).
        # A Decimal only matches another Decimal with the same normalized value,
        # so a Spark DECIMAL output vs a DuckDB DOUBLE oracle fails locally too.
        return ("dec", str(v.normalize()))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 / +0.0 and ulp noise below the round(,2)/round(,4)
        # precision every declared query already applies
        return ("f", round(v + 0.0, 6))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def assert_driver_sortable_schema(df, name: str = "?"):
    """The driver canonicalizer pandas-sort_values every output column;
    a top-level ArrayType/MapType cell is unhashable there and crashes
    the whole row (the r03 d75 lesson). Registry rule: arrays in output
    are joined to strings (array_join / array_to_string)."""
    from pyspark.sql.types import ArrayType, MapType

    bad = [f.name for f in df.schema.fields if isinstance(f.dataType, (ArrayType, MapType))]
    assert not bad, (
        f"{name}: top-level array/map output columns {bad} would crash the "
        "driver canonicalizer — project them through array_join/to_json"
    )


def _spark_rows(df):
    cols = list(df.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(canon(r[i]) for i in order) for r in df.collect()]
    return sorted(cols), rows


def _duck_rows(con: duckdb.DuckDBPyConnection, sql: str):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(canon(r[i]) for i in order) for r in cur.fetchall()]
    return sorted(cols), rows


def assert_oracle_match(spark_df, duck_con, oracle_sql: str, name: str = "?"):
    """Order-insensitive (column-name-sorted, row-sorted) equality check."""
    assert_driver_sortable_schema(spark_df, name)
    s_cols, s_rows = _spark_rows(spark_df)
    d_cols, d_rows = _duck_rows(duck_con, oracle_sql)
    assert s_cols == d_cols, f"{name}: column mismatch spark={s_cols} duck={d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: rowcount mismatch spark={len(s_rows)} duck={len(d_rows)}"
    )
    s_sorted = sorted(s_rows, key=repr)
    d_sorted = sorted(d_rows, key=repr)
    if s_sorted != d_sorted:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_sorted, d_sorted)) if a != b
        ][:5]
        raise AssertionError(
            f"{name}: value mismatch; first diffs (spark vs duck): {diffs}; cols={s_cols}"
        )
