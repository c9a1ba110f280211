"""Snorby sink state under failure, and the written star against its
declaration.

A crash is simulated by raising a ``BaseException``: ``with_retry``
retries ``Exception`` only, so the injected failure escapes the sink at
the exact step it is raised from, as a killed process would."""

from __future__ import annotations

import os

import pytest

from charlotte_spark.cli import enriched
from charlotte_spark.queries.charlotte_pipeline import (
    _fresh_db,
    run_batch_pipeline,
    u2_fixture,
)
from charlotte_spark.sinks.mysql_dialect import STAR_TABLES
from charlotte_spark.sources.u2_spark import read_spools
from charlotte_spark.streaming.snorby import SENSOR_SCHEMA, SnorbyDB, apply_batch


class _Crash(BaseException):
    """A process death at the step that raises it."""


def _sensor(sid: int, last_cid: int) -> dict:
    return {
        "sid": sid, "hostname": f"h{sid}", "interface": "charlotte",
        "detail": 1, "encoding": 2, "last_cid": last_cid,
    }


def test_sensor_survives_crash_at_publish(spark, tmp_path, monkeypatch):
    """A crash while the new sensor table is put in place must leave
    the old one readable: a lost sensor table restarts sids and cids at
    1 and duplicates (sid, cid) pairs on the next run."""
    db = SnorbyDB(spark, str(tmp_path / "star"))
    before = [_sensor(1, 40)]
    db.overwrite_small("sensor", before, SENSOR_SCHEMA)

    def crash(*args, **kwargs):
        raise _Crash()

    with monkeypatch.context() as m:
        # a rename is what puts a written table in place
        m.setattr(os, "replace", crash)
        m.setattr(os, "rename", crash)
        with pytest.raises(_Crash):
            db.overwrite_small("sensor", before + [_sensor(2, 0)], SENSOR_SCHEMA)

    restarted = SnorbyDB(spark, db.path)
    assert restarted.read_small("sensor", SENSOR_SCHEMA) == before
    assert [r.asDict() for r in restarted.read("sensor", SENSOR_SCHEMA).collect()] == before
    # the next write goes through over the crashed one's leftovers
    after = before + [_sensor(2, 7)]
    restarted.overwrite_small("sensor", after, SENSOR_SCHEMA)
    assert SnorbyDB(spark, db.path).read_small("sensor", SENSOR_SCHEMA) == after


def test_ledger_survives_crash_mid_write(spark, tmp_path, monkeypatch):
    """A crash while an applied-batch marker is being written must not
    leave a torn part that every later ledger read trips on."""
    import pyarrow.parquet as pq

    db = SnorbyDB(spark, str(tmp_path / "star"))
    db.mark_applied(0)

    def torn_write(table, where, **kwargs):
        with open(where, "wb") as f:
            f.write(b"PAR1\x15\x00torn")
        raise _Crash()

    with monkeypatch.context() as m:
        m.setattr(pq, "write_table", torn_write)
        with pytest.raises(_Crash):
            db.mark_applied(1)

    restarted = SnorbyDB(spark, db.path)
    assert restarted.applied_batches() == {0}
    assert restarted.read("_batches").count() == 1
    restarted.mark_applied(1)
    assert SnorbyDB(spark, db.path).applied_batches() == {0, 1}


class _FailingAppendDB(SnorbyDB):
    def append(self, name, df):
        if name == "tcphdr":
            raise RuntimeError("injected append failure")
        super().append(name, df)


def test_failed_batch_releases_cached_frames(spark):
    """A batch whose fact append raises must still unpersist every
    frame it cached: the failure propagates, the cache does not leak."""
    fx = u2_fixture()
    db = _FailingAppendDB(spark, _fresh_db(spark, "failing_append").path)
    batch = enriched(spark, fx["global"], read_spools(spark, fx["spools"]))
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="injected append failure"):
        apply_batch(db, batch, 0)
    assert cache.isEmpty(), "apply_batch left cached frames behind"
    assert db.applied_batches() == set()


def test_parquet_star_matches_declared_tables(spark):
    """Every table of a written star, the applied-batch ledger included,
    has exactly the declared columns, in order, with the declared types
    (read back by parquet schema inference, not through the declaration)."""
    from pyspark.sql.types import StructType

    db = _fresh_db(spark, "conformance")
    run_batch_pipeline(spark, db)
    for table, (ddl, _) in STAR_TABLES.items():
        # the dialect's STAR_TABLES is keyed by SQL name
        name = "_batches" if table == "meta_batches" else table
        got = spark.read.parquet(f"{db.path}/{name}").schema
        want = StructType.fromDDL(ddl)
        assert [(f.name, f.dataType) for f in got] == [
            (f.name, f.dataType) for f in want
        ], f"{name}: written {got.simpleString()}, declared {want.simpleString()}"
