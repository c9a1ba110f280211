"""Streaming failure semantics: genuine late-data drop (D56), bounded
state, restart/recovery of the snorby pipeline (R2/R21, SURVEY §5.2
"kill mid-stream, resume from checkpoint, assert no dup/loss"), and the
R21 retry wrapper.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from charlotte_spark.cli import drain, enriched, star_sink
from charlotte_spark.queries.charlotte_pipeline import (
    _fresh_db,
    _star_summary,
    cid_density,
    crash_and_resume,
    u2_fixture,
)
from charlotte_spark.sources.u2_spark import read_spools
from charlotte_spark.streaming.harness import events_stream, run_to_memory
from charlotte_spark.streaming.snorby import with_retry


def test_watermark_drops_late_rows(spark, sf_dir):
    """With chunks delivered out of order and a watermark tighter than
    the disorder, late rows are dropped: the windowed counts sum to
    fewer events than the input."""
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # max_files_per_trigger=2, not the harness default 4: the late-row
    # filter applies the watermark with one batch of lag (it's planned
    # from data up to batch N-2), so late chunks only actually drop when
    # they arrive ≥2 triggers after the on-time chunks that outran them.
    s = events_stream(
        spark,
        sf_dir,
        n_chunks=8,
        shuffle_chunks=True,
        sentinel_ts="2024-06-01 00:00:00",
        max_files_per_trigger=2,
    )
    agg = (
        s.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_memory(agg, "append").filter(F.col("w.start") < "2024-05-01")
    kept = out.agg(F.sum("n")).collect()[0][0]
    assert kept < total, "tight watermark over shuffled delivery must drop rows"
    assert kept > 0


def test_stream_stream_join_matches_across_batches(spark, sf_dir):
    """D92: with admission control forcing many micro-batches over
    shuffled chunk order, a purchase and its matching click usually
    arrive in DIFFERENT batches — the watermarked join state must
    buffer across batches and still produce exactly the batch answer."""
    from charlotte_spark.catalog import load_table

    batch = load_table(spark, sf_dir, "events")
    pe = batch.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    ce = batch.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    expected = sorted(
        (r["purchase_id"], r["click_id"]) for r in pe.join(ce, cond).collect()
    )
    assert expected, "fixture must produce at least one attribution pair"

    s = events_stream(
        spark,
        sf_dir,
        n_chunks=8,
        shuffle_chunks=True,
        sentinel_ts="2024-06-01 00:00:00",
        max_files_per_trigger=2,
    )
    purchases = (
        s.filter((F.col("event_type") == "purchase") | (F.col("event_id") < 0))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "40 days")
    )
    clicks = (
        s.filter((F.col("event_type") == "click") | (F.col("event_id") < 0))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "40 days")
    )
    joined = purchases.join(clicks, cond, "inner")
    out = run_to_memory(joined, "append")
    got = sorted(
        (r["purchase_id"], r["click_id"])
        for r in out.filter(
            (F.col("purchase_id") >= 0) & (F.col("click_id") >= 0)
        ).collect()
    )
    assert got == expected


def test_snorby_restart_recovery(spark, assert_star_matches_batch):
    """Kill the streaming pipeline mid-run (the sink raises before its
    third one-file micro-batch), restart from the same checkpoint and
    star, and the final star equals a clean batch run, every table row
    for row — no duplicates, no loss."""
    fx = u2_fixture()
    db = _fresh_db(spark, "restart")
    # resume: Spark replays the failed batch and finishes the rest,
    # three files per batch
    crash_and_resume(spark, db, f"{db.path}_ckpt", fx, crash_batch=2, resume_cap=3)
    assert_star_matches_batch(db)


def test_rollover_listener_fires_per_file(spark, tmp_path):
    """R3: with maxFilesPerTrigger=1 each micro-batch is one spool file,
    so the rollover listener observes one progress event per file."""
    from charlotte_spark.sources.u2_spark import RolloverListener

    fx = u2_fixture()
    # the shared-parent fixture compiles to ONE source, so
    # maxFilesPerTrigger=1 makes each micro-batch exactly one spool
    # file across all sensors: one rollover per file
    n_files = sum(
        len(os.listdir(d))
        for cfg in fx["spools"].values()
        for d in cfg["directories"]
    )
    listener = RolloverListener()
    listener.attach(spark)
    try:
        alerts = read_spools(spark, fx["spools"], streaming=True, max_files_per_trigger=1)
        q = (
            alerts.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener delivery is async; give it a beat
        import time

        for _ in range(20):
            if len([e for e in listener.events if e[1] > 0]) >= n_files:
                break
            time.sleep(0.5)
    finally:
        listener.detach(spark)
    fired = [e for e in listener.events if e[1] > 0]
    assert len(fired) >= n_files, f"expected ≥{n_files} rollovers, saw {len(fired)}"


def test_graceful_drain_on_stop(spark, tmp_path):
    """R23: stopping after processAllAvailable leaves no partial batch —
    every applied batch is complete, so the star equals the batch run
    (the availableNow path in test_charlotte.py covers full drain; this
    covers explicit stop())."""
    s = events_stream(spark, "/root/testdata/sf0.001", n_chunks=4)
    agg = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.format("memory")
        .queryName("drain_sink")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    try:
        got = {r["event_type"]: r["n"] for r in spark.table("drain_sink").collect()}
    finally:
        spark.catalog.dropTempView("drain_sink")
    want = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_with_retry_backoff_then_success():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return "ok"

    assert with_retry(flaky, max_tries=5, base_sleep=0.01) == "ok"
    assert calls["n"] == 3


def test_with_retry_exhausts():
    def always_fails():
        raise OSError("down")

    with pytest.raises(OSError, match="down"):
        with_retry(always_fails, max_tries=3, base_sleep=0.01)


def test_with_retry_sleeps_only_between_tries(monkeypatch):
    """A persistent error is raised right after the last try: at the
    defaults, eight tries sleep 1, 2, ..., 64 s (127 s) between them and
    not again after the eighth."""
    import time

    sleeps = []
    monkeypatch.setattr(time, "sleep", sleeps.append)

    def always_fails():
        raise OSError("down")

    with pytest.raises(OSError, match="down"):
        with_retry(always_fails)
    assert sleeps == [1, 2, 4, 8, 16, 32, 64]


def test_tws_session_processor_logic():
    """d126's transformWithState processor, driven directly with a fake
    handle: two input batches (extend + gap) and a timer expiry must
    reproduce the gaps-and-islands sessions. The TWS wire protocol
    needs protobuf (absent here), so this pins the batch/timer logic
    that the streaming harness can't reach in this container."""
    import numpy as np
    import pandas as pd

    from charlotte_spark.queries.streaming_queries import (
        _TWS_GAP_US,
        make_session_processor,
    )

    class FakeValueState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

        def clear(self):
            self.v = None

    class FakeHandle:
        def __init__(self):
            self.state = FakeValueState()
            self.timers = []

        def getValueState(self, name, schema):
            return self.state

        def listTimers(self):
            return list(self.timers)

        def deleteTimer(self, t):
            self.timers.remove(t)

        def registerTimer(self, t):
            self.timers.append(t)

    proc = make_session_processor()
    handle = FakeHandle()
    proc.init(handle)

    def batch(ts_strings):
        return [pd.DataFrame({"ts": pd.to_datetime(ts_strings)})]

    # batch 1: two events 2 min apart -> one open session, no output
    out1 = list(proc.handleInputRows((7,), batch(
        ["2024-01-01 00:00:00", "2024-01-01 00:02:00"]), None))
    assert out1 == []
    assert handle.state.v == (
        1704067200000000, 1704067320000000, 2
    )
    assert len(handle.timers) == 1

    # batch 2: 1 h later -> closes the first session (2 events), opens a new one
    out2 = pd.concat(list(proc.handleInputRows((7,), batch(
        ["2024-01-01 01:00:00"]), None)))
    assert out2["session_start"].tolist() == ["2024-01-01 00:00:00"]
    assert out2["n_events"].tolist() == [2]
    assert handle.state.v[2] == 1
    # timer re-registered at last + gap
    assert handle.timers == [handle.state.v[1] // 1000 + _TWS_GAP_US // 1000 + 1]

    # timer expiry flushes the open session and clears state
    out3 = pd.concat(list(proc.handleExpiredTimer((7,), None, None)))
    assert out3["session_start"].tolist() == ["2024-01-01 01:00:00"]
    assert out3["n_events"].tolist() == [1]
    assert not handle.state.exists()


def test_restart_audit_flag_has_teeth(spark):
    """d182's exactly_once literal is only evidence if a ledgerless sink
    actually changes the star: re-delivering an applied batch through
    `_apply_batch_body` (what a foreachBatch sink WITHOUT the
    applied-batch ledger does when Spark replays after a crash) must
    add duplicate fact rows — so the d182 digest comparison flips its
    flag and the driver hash goes red."""
    from charlotte_spark.streaming.snorby import _apply_batch_body

    fx = u2_fixture()
    db = _fresh_db(spark, "ledgerless")
    batch = enriched(spark, fx["global"], read_spools(spark, fx["spools"]))
    _apply_batch_body(db, batch, 0)
    once = _star_summary(spark, db).count()
    _apply_batch_body(db, batch, 0)  # ledgerless re-delivery
    twice = _star_summary(spark, db).count()
    assert twice > once, "ledgerless re-delivery must duplicate fact rows"


def test_restart_audit_joins_reference_build_when_drill_fails(spark, monkeypatch):
    """d182 builds its reference star on a pool thread; when the
    crash/resume drill fails, the query must still wait for that build
    before raising, so none of its Spark jobs outlive the query."""
    import time

    from charlotte_spark.queries import charlotte_pipeline as cp

    finished = []

    def slow_reference(ref_spark, db):
        time.sleep(1.0)
        finished.append(db.path)

    def failing_drill(*args, **kwargs):
        raise RuntimeError("drill failed")

    monkeypatch.setattr(cp, "run_batch_pipeline", slow_reference)
    monkeypatch.setattr(cp, "crash_and_resume", failing_drill)
    with pytest.raises(RuntimeError, match="drill failed"):
        cp.d182_restart_exactly_once(spark, "")
    assert len(finished) == 1, "reference build still running after the query raised"


def test_cid_sequencer_state_stays_o_sensors(spark):
    """D58 at day 2 (VERDICT r11 #5): under sustained multi-batch
    replay the sequencer's persisted state is the per-sensor last_cid
    table and NOTHING that scales with cumulative ingested volume —
    rows stay == n_sensors and on-disk bytes stay constant across
    batches, while the cid sequence stays dense. The full-volume twin
    (24 batches, ~1M events) is tools/scale_ingest.py sustained
    (artifact: INGEST_SUSTAINED_r12.json)."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.scale_ingest import _state_snapshot

    from charlotte_spark.streaming.snorby import SENSOR_SCHEMA

    fx = u2_fixture()
    db = _fresh_db(spark, "sustained_state")
    ckpt = f"{db.path}_ckpt"
    if os.path.exists(ckpt):
        shutil.rmtree(ckpt)

    sink = star_sink(spark, fx["global"], db)
    series = []

    def observed(batch_df, batch_id):
        sink(batch_df, batch_id)
        snap = _state_snapshot(db.path)
        snap["state_rows"] = len(db.read_small("sensor", SENSOR_SCHEMA))
        series.append(snap)

    drain(spark, fx["spools"], observed, ckpt, max_files_per_trigger=1)

    assert len(series) >= 3, f"fixture should yield >=3 micro-batches: {len(series)}"
    # State is O(sensors SEEN), never O(events): with the shared-parent
    # single source, mtime order delivers sensor_a's files before
    # sensor_b's first appearance, so rows may STEP UP once per new
    # sensor — but must be monotone-bounded by the sensor count and
    # flat between first appearances (the old per-source union fed one
    # file per sensor per batch, masking the step).
    n_sensors = len(fx["spools"])
    rows = [s["state_rows"] for s in series]
    assert all(a <= b for a, b in zip(rows, rows[1:])), (
        f"sequencer state rows non-monotone: {rows}"
    )
    assert rows[-1] == n_sensors and max(rows) <= n_sensors, (
        f"sequencer state rows exceed sensor count: {rows}"
    )
    sizes = [s["state_bytes"] for s in series]
    assert max(sizes) <= 1.5 * min(sizes), (
        f"sequencer state bytes grew with ingested volume: {sizes}"
    )
    # and the sequence the state protects stays dense
    for r in cid_density(db.read("event")).collect():
        assert r["dense"], f"cid sequence not dense for sid={r['sid']}"


def test_token_bucket_state_carries_across_batches(spark):
    """d221: with chronological chunks delivered one file per trigger,
    the limiter's cross-batch state (t_prev, tokens, counters) must
    reproduce the single-trigger answer exactly — the stream-equals-
    batch proof for the non-associative token recurrence."""
    from charlotte_spark.queries.streaming_queries import (
        _token_bucket_pipeline,
        run_to_memory,
    )
    from charlotte_spark.streaming.harness import DEFAULT_SENTINEL_TS, events_stream

    sf = "/root/testdata/sf0.001"
    multi = events_stream(
        spark, sf, n_chunks=6, shuffle_chunks=False,
        sentinel_ts=DEFAULT_SENTINEL_TS, max_files_per_trigger=1,
    )
    got = {
        r["user_id"]: (r["n_events"], r["n_admitted"], r["n_throttled"], r["tokens_left"])
        for r in run_to_memory(_token_bucket_pipeline(multi), "append")
        .filter("user_id >= 0")
        .collect()
    }
    single = events_stream(
        spark, sf, n_chunks=6, shuffle_chunks=False,
        sentinel_ts=DEFAULT_SENTINEL_TS,
    )
    want = {
        r["user_id"]: (r["n_events"], r["n_admitted"], r["n_throttled"], r["tokens_left"])
        for r in run_to_memory(_token_bucket_pipeline(single), "append")
        .filter("user_id >= 0")
        .collect()
    }
    assert got == want
    assert sum(v[2] for v in want.values()) > 0, "throttle class vacuous"
