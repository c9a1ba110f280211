"""JDBC surface against a REAL database (embedded Apache Derby):
D3/D5 round-trips are oracle-checked in test_oracle.py; here the FULL
charlotte pipeline runs against `JdbcSnorbyDB` — dim upserts, cid
sequencing, fact appends, idempotence markers, all through
`df.write.jdbc` / `spark.read.jdbc` with retry — and the resulting star
must equal the parquet-backed star row for row."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from charlotte_spark.cli import star_sink
from charlotte_spark.queries.charlotte_pipeline import (
    _fresh_db,
    _star_summary,
    run_batch_pipeline,
    u2_fixture,
)
from charlotte_spark.sinks.jdbc import JdbcSnorbyDB
from charlotte_spark.sources.u2_spark import read_spools

DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def test_jdbc_snorby_pipeline_matches_parquet_star(spark):
    url = f"jdbc:derby:memory:snorby_{os.getpid()};create=true"
    jdb = JdbcSnorbyDB(spark, url, DERBY)

    fx = u2_fixture()
    alerts = read_spools(spark, fx["spools"])
    sink = star_sink(spark, fx["global"], jdb)
    sink(alerts, 0)
    # idempotent replay: the applied-batch marker must short-circuit
    sink(alerts, 0)

    ref_db = _fresh_db(spark, "jdbc_ref")
    run_batch_pipeline(spark, ref_db)

    cols = ["hostname", "cid", "sig_name", "sig_priority", "ts"]
    got = {
        tuple(r[c] for c in cols) for r in _star_summary(spark, jdb).collect()
    }
    want = {
        tuple(r[c] for c in cols) for r in _star_summary(spark, ref_db).collect()
    }
    assert got == want, (
        f"JDBC star diverges: {len(got)} vs {len(want)} rows; "
        f"extra={sorted(got - want)[:3]} missing={sorted(want - got)[:3]}"
    )
    # fact shards exist and are non-trivial over JDBC too
    n_ip = jdb.read("iphdr", "sid int").count()
    assert n_ip > 0
    assert jdb.applied_batches() == {0}


class _FakeJdbcRead:
    """Stands in for both ``spark.read`` and the frame its ``jdbc`` call
    returns: each ``collect`` takes the next outcome, raising it if it
    is an exception."""

    def __init__(self, outcomes):
        self.outcomes = list(outcomes)

    def jdbc(self, url, table, **kwargs):
        return self

    def collect(self):
        out = self.outcomes.pop(0)
        if isinstance(out, Exception):
            raise out
        return out


def _fake_jdbc_db(*outcomes) -> JdbcSnorbyDB:
    class _FakeSpark:
        read = _FakeJdbcRead(outcomes)

    return JdbcSnorbyDB(_FakeSpark(), "jdbc:fake", {})


def test_jdbc_small_reads_treat_only_a_missing_table_as_empty():
    """A failed SELECT read as an empty ledger re-applies every batch,
    and as an empty sensor table re-numbers the sensors: only a missing
    table (the first run) may read as empty."""
    from pyspark.sql import Row

    # a transient failure of the collect itself is retried
    db = _fake_jdbc_db(RuntimeError("Connection reset"), [Row(batch_id=3)])
    assert db.applied_batches() == {3}
    # an error retrying cannot fix, other than a missing table, raises
    db = _fake_jdbc_db(RuntimeError("ERROR 42X01: Syntax error"))
    with pytest.raises(RuntimeError, match="42X01"):
        db.read_small("sensor")
    db = _fake_jdbc_db(RuntimeError("Table/View 'SENSOR' does not exist."))
    assert db.read_small("sensor") == []
