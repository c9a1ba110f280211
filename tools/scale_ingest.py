"""Large-scale ingest validation (SURVEY §2.1 R1-R21 at volume).

Generates ≥1M unified2 events across 4 sensor spools, runs the FULL
streaming pipeline (parse → decode → enrich → snorby star) with an
injected crash mid-stream, restarts from the same checkpoint + db, and
asserts the exactly-once contract the reference gets from its
serialized writer (/root/reference/charlotte/__init__.py:554-570):

- no loss:   event rows == batch-mode parse count of the same spools
             (one row per (alert, packet) — R10 explosion included)
- no dups:   count == count(DISTINCT (sid, cid))
- density:   per sensor, cid is exactly 1..n (the R19/D58 guarantee)

Prints one JSON line with throughput; paste the numbers into SCALE.md.

Usage: python tools/scale_ingest.py [events_per_file [files_per_spool]]
Default 25_000 x 10 x 4 sensors = 1,000,000 events.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from charlotte_spark.cli import drain, star_sink  # noqa: E402
from charlotte_spark.operators.loopstate import scratch_dir  # noqa: E402
from charlotte_spark.queries.charlotte_pipeline import (  # noqa: E402
    cid_density,
    crash_and_resume,
)
from charlotte_spark.session import get_spark  # noqa: E402
from charlotte_spark.sources.u2_spark import read_spools  # noqa: E402
from charlotte_spark.sources.unified2 import write_spool  # noqa: E402
from charlotte_spark.streaming.snorby import SnorbyDB  # noqa: E402

BASE = scratch_dir("scale")
N_SENSORS = 4


def build_fixture(events_per_file: int, n_files: int) -> dict:
    spools = {}
    t0 = time.time()
    total = 0
    # the spool parent is DEDICATED (nothing but sensor dirs under it):
    # the single parent-glob source reads <parent>/*, so a db/ckpt or a
    # stale differently-named spool dir under the same parent would be
    # picked up as a phantom sensor (hit on first run: leftover
    # spool_{s} dirs doubled the sensor count)
    shutil.rmtree(f"{BASE}/spools", ignore_errors=True)
    for s in range(1, N_SENSORS + 1):
        # shared-parent layout (<parent>/<sensor_name>/) — the
        # evolution-safe shape the engine recommends and, since r13,
        # defaults to in its own fixtures; the stream compiles to ONE
        # parent-glob source, so maxFilesPerTrigger=1 means one FILE
        # per micro-batch across all sensors (pre-r13 the per-sensor
        # union consumed one file per sensor per batch — ingest
        # figures across that boundary are not directly comparable).
        d = f"{BASE}/spools/sensor_{s}"
        write_spool(
            d,
            n_files=n_files,
            events_per_file=events_per_file,
            sensor_id=s,
            base_second=1_700_000_000 + s * 1_000_000,
        )
        spools[f"sensor_{s}"] = {"directories": [d], "prefix": "snort.u2"}
        total += events_per_file * n_files
    maps = {
        "signature_map": f"{BASE}/sid-msg.map",
        "generator_map": f"{BASE}/gen-msg.map",
        "classification_map": f"{BASE}/classification.config",
    }
    with open(maps["signature_map"], "w") as f:
        for s in range(20):
            f.write(f"{1_000_000 + s} || Known Signature {s}\n")
    with open(maps["generator_map"], "w") as f:
        f.write("2 || 1 || Generator Two Alert\n")
    with open(maps["classification_map"], "w") as f:
        for i in range(1, 6):
            f.write(f"config classification: class-{i},Class {i} Description,{i}\n")
    return {"global": maps, "spools": spools, "n_events": total, "gen_sec": time.time() - t0}


def run(events_per_file: int = 25_000, n_files: int = 10) -> dict:
    spark = get_spark("charlotte-scale-ingest")
    spark.sparkContext.setLogLevel("ERROR")
    fx = build_fixture(events_per_file, n_files)

    db_path = f"{BASE}/db"
    ckpt = f"{BASE}/ckpt"
    shutil.rmtree(db_path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    db = SnorbyDB(spark, db_path)

    # No-loss baseline: the event fact is one row per PARSED ROW (an
    # alert explodes to one row per packet — R10), so the expected
    # count is the batch-mode parse of the same spools, not the raw
    # event count.
    expected_rows = read_spools(spark, fx["spools"], streaming=False).count()

    # shared-parent single source: 12 files/batch over 40 files total
    # => 4 micro-batches; the stream dies right before batch 2 (after 2
    # applied batches) and restarts from the same checkpoint + db — same
    # batch volume as the pre-r13 per-source union (4 sensors x 3)
    crash_sec, resume_sec = crash_and_resume(
        spark, db, ckpt, fx, crash_batch=2, cap=3 * N_SENSORS
    )
    ingest_sec = crash_sec + resume_sec

    audit = cid_density(db.read("event")).collect()
    total_rows = sum(r["n"] for r in audit)
    dense = all(r["dense"] for r in audit)
    result = {
        "n_events_generated": fx["n_events"],
        "n_rows_expected": expected_rows,
        "n_event_rows": total_rows,
        "n_sensors": len(audit),
        "no_loss": total_rows == expected_rows,
        "no_dups_dense_cids": dense,
        "crash_restart": True,
        "batches_applied": len(SnorbyDB(spark, db_path).applied_batches()),
        "gen_sec": round(fx["gen_sec"], 1),
        "ingest_sec": round(ingest_sec, 1),
        "events_per_sec": round(fx["n_events"] / ingest_sec),
    }
    assert result["no_loss"], f"LOSS: {total_rows} != {expected_rows}"
    assert dense, "cid sequence not dense — duplicates or gaps"
    return result


def _state_snapshot(db_path: str, table: str = "sensor") -> dict:
    """On-disk size of the persisted sequencer state (the per-sensor
    last_cid table) — the D58 state the reference keeps as a MySQL row
    per sensor (:566-569)."""
    tdir = f"{db_path}/{table}"
    return {"state_bytes": _dir_bytes(tdir)}


def _dir_bytes(path: str) -> int:
    nbytes = 0
    for base, _dirs, files in os.walk(path):
        nbytes += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return nbytes


def sustained(events_per_file: int = 10_000, n_files: int = 24) -> dict:
    """Sustained multi-batch replay with state-store metrics (VERDICT
    r11 #5): the shared-parent single source with
    maxFilesPerTrigger=N_SENSORS => ~n_files micro-batches of N_SENSORS
    files each (same batch volume as the pre-r13 per-source union,
    though mtime order is sensor-major, so sensors enter the state one
    at a time). After every applied batch,
    record the wall latency and the cid-sequencer state footprint
    (bytes + rows of the persisted ``sensor`` table). Asserts the D58
    state stays O(sensors) — constant rows, bounded bytes — and the
    per-batch latency shows no super-linear trend (late-window median
    <= 2x early-window median; state lookups and dim upserts must not
    scale with CUMULATIVE ingested volume)."""
    spark = get_spark("charlotte-sustained-ingest")
    spark.sparkContext.setLogLevel("ERROR")
    fx = build_fixture(events_per_file, n_files)

    db_path = f"{BASE}/db_sustained"
    ckpt = f"{BASE}/ckpt_sustained"
    shutil.rmtree(db_path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    db = SnorbyDB(spark, db_path)

    sink = star_sink(spark, fx["global"], db)
    series: list[dict] = []

    def observed(batch_df, batch_id):
        t0 = time.time()
        sink(batch_df, batch_id)
        snap = _state_snapshot(db_path)
        snap.update(
            batch_id=int(batch_id),
            batch_sec=round(time.time() - t0, 3),
            state_rows=len(db.read_small("sensor")),
            # Checkpoint growth alongside state bytes (VERDICT r13 #7):
            # offsets/commits logs are one small file per batch —
            # O(batches) by design, KB-scale, and compacted by Spark;
            # recorded so linear-in-batches vs linear-in-EVENTS is
            # measured, not asserted.
            ckpt_bytes=_dir_bytes(ckpt),
        )
        series.append(snap)

    t0 = time.time()
    drain(spark, fx["spools"], observed, ckpt, max_files_per_trigger=N_SENSORS)
    ingest_sec = time.time() - t0

    assert len(series) >= 10, f"expected a sustained run, got {len(series)} batches"
    # State is O(sensors SEEN), not O(ingested volume): mtime order is
    # sensor-major under the single source, so rows step up once per
    # new sensor and must end at N_SENSORS — never exceed it, never
    # grow with events.
    rows = [s["state_rows"] for s in series]
    assert all(a <= b for a, b in zip(rows, rows[1:])), f"state rows non-monotone: {rows}"
    assert rows[-1] == N_SENSORS and max(rows) <= N_SENSORS, (
        f"sensor state rows drifted: {rows}"
    )
    sizes = [s["state_bytes"] for s in series]
    assert max(sizes) <= 1.5 * min(sizes), f"sensor state bytes grew: {sizes}"

    # Latency trend: the first batch pays dim bootstrap; compare the
    # median of the first 5 post-bootstrap batches to the last 5.
    lat = [s["batch_sec"] for s in series[1:]]
    early = sorted(lat[:5])[2]
    late = sorted(lat[-5:])[2]
    assert late <= 2.0 * early, f"per-batch latency trend: {early} -> {late}"

    dense = all(r["dense"] for r in cid_density(db.read("event")).collect())
    assert dense, "cid sequence not dense under sustained replay"
    return {
        "mode": "sustained",
        "n_events_generated": fx["n_events"],
        "n_batches": len(series),
        "n_sensors": N_SENSORS,
        "state_rows_bounded_by_sensors": True,
        "state_bytes_min": min(sizes),
        "state_bytes_max": max(sizes),
        "ckpt_bytes_first": series[0]["ckpt_bytes"],
        "ckpt_bytes_last": series[-1]["ckpt_bytes"],
        "ckpt_bytes_per_batch": round(
            (series[-1]["ckpt_bytes"] - series[0]["ckpt_bytes"])
            / max(len(series) - 1, 1)
        ),
        "batch_sec_early_median": early,
        "batch_sec_late_median": late,
        "no_dups_dense_cids": dense,
        "gen_sec": round(fx["gen_sec"], 1),
        "ingest_sec": round(ingest_sec, 1),
        "events_per_sec": round(fx["n_events"] / ingest_sec),
        "series": series,
    }


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "sustained":
        epf = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
        nf = int(sys.argv[3]) if len(sys.argv) > 3 else 24
        print(json.dumps(sustained(epf, nf)))
    else:
        epf = int(sys.argv[1]) if len(sys.argv) > 1 else 25_000
        nf = int(sys.argv[2]) if len(sys.argv) > 2 else 10
        print(json.dumps(run(epf, nf)))
