"""Snorby sink state under failure, and the written star against its
declaration.

A crash inside a write is simulated by raising a ``BaseException``:
``with_retry`` retries ``Exception`` only, so the injected failure
escapes the sink at the exact step it is raised from, as a killed
process would. The crash-point matrix raises a ``RuntimeError`` around
the sink's writes instead, outside ``with_retry``, so that it also ends
the stream the way the crash-and-resume drill expects."""

from __future__ import annotations

import os

import pytest

from charlotte_spark.cli import enriched
from charlotte_spark.queries.charlotte_pipeline import (
    _fresh_db,
    crash_and_resume,
    run_batch_pipeline,
    u2_fixture,
)
from charlotte_spark.sinks.mysql_dialect import STAR_TABLES
from charlotte_spark.sources.u2_spark import read_spools
from charlotte_spark.streaming.snorby import (
    FACT_TABLES,
    SENSOR_SCHEMA,
    SnorbyDB,
    apply_batch,
)


class _Crash(BaseException):
    """A process death at the step that raises it."""


def _torn_write(table, where, **kwargs):
    """A ``pyarrow.parquet.write_table`` that dies halfway through."""
    with open(where, "wb") as f:
        f.write(b"PAR1\x15\x00torn")
    raise _Crash()


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

    with monkeypatch.context() as m:
        m.setattr(pq, "write_table", _torn_write)
        with pytest.raises(_Crash):
            db.mark_applied(1)

    restarted = SnorbyDB(spark, db.path)
    assert restarted.applied_batches() == {0}
    assert restarted.read("_batches").count() == 1
    restarted.mark_applied(1)
    assert SnorbyDB(spark, db.path).applied_batches() == {0, 1}


def test_replayed_marker_replaces_torn_write(spark, tmp_path, monkeypatch):
    """The replay of a batch whose marker write was torn, in a restarted
    process (another pid), must overwrite the torn write's temporary
    file: ``_batches`` ends with one part per batch and no leftovers."""
    import pyarrow.parquet as pq

    db = SnorbyDB(spark, str(tmp_path / "star"))
    db.mark_applied(0)
    with monkeypatch.context() as m:
        m.setattr(pq, "write_table", _torn_write)
        with pytest.raises(_Crash):
            db.mark_applied(1)

    pid = os.getpid()
    with monkeypatch.context() as m:
        m.setattr(os, "getpid", lambda: pid + 1)
        SnorbyDB(spark, db.path).mark_applied(1)

    files = os.listdir(f"{db.path}/_batches")
    assert not [f for f in files if f.endswith(".tmp")], f"leftover temporary file: {files}"
    assert len(files) == 2, f"expected one ledger part per batch: {files}"
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


class _CrashingDB(SnorbyDB):
    """A star whose batch-1 write ``method`` (of ``table``, any table if
    None) raises ``RuntimeError("injected crash ...")`` ``when`` ("before"
    or "after") it writes. The raise is outside ``with_retry``, so no
    retry absorbs it. A batch writes ``sensor`` twice, the dim upsert and
    then the last_cid watermark; a crash point at a ``sensor`` write is
    the watermark's, after all six fact appends have landed."""

    def __init__(self, spark, path, point):
        super().__init__(spark, path)
        self.point = point
        self.armed = False  # batch 0 is applied, batch 1 is not
        self.landed = []  # batch-1 fact appends that landed

    def _crash(self, method, table, when):
        if not self.armed or self.point is None:
            return
        p_method, p_table, p_when = self.point
        if (p_method, p_when) != (method, when) or p_table not in (None, table):
            return
        if table == "sensor" and len(self.landed) < len(FACT_TABLES):
            return
        raise RuntimeError(f"injected crash {when} {method}({table})")

    def append(self, name, df):
        self._crash("append", name, "before")
        super().append(name, df)
        if self.armed:
            self.landed.append(name)

    def overwrite_small(self, name, rows, schema=None):
        self._crash("overwrite_small", name, "before")
        super().overwrite_small(name, rows, schema)
        self._crash("overwrite_small", name, "after")

    def mark_applied(self, batch_id):
        super().mark_applied(batch_id)
        self._crash("mark_applied", "_batches", "after")
        self.armed = batch_id == 0


_TORN = pytest.mark.xfail(strict=True, reason="ROADMAP item 1: torn batch")


@pytest.mark.parametrize(
    "point",
    [
        pytest.param(None, id="before_body"),
        pytest.param(("append", None, "before"), id="after_dim_writes"),
        pytest.param(("append", "tcphdr", "before"), id="one_append_fails", marks=_TORN),
        pytest.param(
            ("overwrite_small", "sensor", "before"), id="all_appends_landed", marks=_TORN
        ),
        pytest.param(("overwrite_small", "sensor", "after"), id="after_watermark", marks=_TORN),
        pytest.param(("mark_applied", "_batches", "after"), id="after_marker"),
    ],
)
def test_crash_point_matrix(spark, assert_star_matches_batch, point):
    """A two-batch stream (three files per trigger) crashes at one point
    of batch 1 and resumes as a restarted process; the star must equal
    the uninterrupted run's, every table row for row. ``before_body`` is
    the drill's own crash, right before batch 1's body; every other point
    is a write of the star raising (`_CrashingDB`)."""
    db = _CrashingDB(spark, _fresh_db(spark, "crash_point").path, point)
    crash_and_resume(
        spark, db, f"{db.path}_ckpt", u2_fixture(),
        crash_batch=1 if point is None else None, cap=3,
    )
    assert_star_matches_batch(db)
