"""Measured BATCH-COUNT scaling for the d182 restart choreography.

VERDICT r13 #6: d182's bench cost is deliberate stream-restart
choreography (crash between sink commit and checkpoint commit, resume,
exactly-once audit) — fixed-stage floored at sf0.1, so its scaling
story was unmeasured. Two axes:

1. RUN axis: wall time of an uninterrupted availableNow streaming run
   (one spool file per micro-batch) vs the number of micro-batches —
   expected exponent <= ~1.0 (per-batch apply cost is constant; the
   stream-start fixed cost pulls the fit BELOW 1).
2. RESUME axis (the state-invariance flag): crash after all but two
   files have applied, then time ONLY the recovery segment — the
   re-delivered batch (ledger skip) plus the two remaining files.
   Recovery reads the checkpoint offsets and the O(sensors) sequencer
   state, NOT the applied history, so the expected exponent vs total
   pre-crash batches is ~0. A recovery that replays or re-scans
   history would show ~1.0 and fail the bound.

The per-batch ledger (one applied-batch marker row per micro-batch) is
the one O(batches) structure; it is probed by batch_id equality, never
scanned, which is what the flat resume fit demonstrates.

Usage: python tools/scale_restart.py [runs_per_point]
Writes one JSON line; merged into SCALE_TREND_r{N}.json by the round
workflow (key "restart").
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from charlotte_spark.cli import drain, star_sink  # noqa: E402
from charlotte_spark.queries.charlotte_pipeline import (  # noqa: E402
    _fresh_db,
    crash_and_resume,
    u2_fixture,
)
from charlotte_spark.session import get_spark  # noqa: E402

N_FILES_SCALES = (4, 8, 16)  # total micro-batches = 2n - 1 per point
EVENTS_PER_FILE = 40
RUN_EXP_BOUND = 1.35    # same wobble band as the other scale tools
RESUME_EXP_BOUND = 0.5  # invariance: recovery must not scale with history


def _fit(xs, ys) -> float:
    lx = [math.log(x) for x in xs]
    ly = [math.log(y) for y in ys]
    n = len(lx)
    mx, my = sum(lx) / n, sum(ly) / n
    return sum((a - mx) * (b - my) for a, b in zip(lx, ly)) / sum(
        (a - mx) ** 2 for a in lx
    )


def run(runs_per_point: int = 2) -> dict:
    spark = get_spark("charlotte-scale-restart")
    spark.sparkContext.setLogLevel("ERROR")

    full_sec: dict[str, float] = {}
    resume_sec: dict[str, float] = {}
    batches: dict[str, int] = {}
    for n in N_FILES_SCALES:
        fx = u2_fixture(n_files=n, events_per_file=EVENTS_PER_FILE)
        total = n + max(1, n - 1)  # sensor_a + sensor_b files
        batches[str(n)] = total

        best_full = math.inf
        best_resume = math.inf
        for r in range(runs_per_point):
            # -------- RUN axis: uninterrupted pass --------
            db = _fresh_db(spark, f"scale_restart_full_{n}_{r}")
            ckpt = f"{db.path}_ckpt"
            shutil.rmtree(ckpt, ignore_errors=True)
            t0 = time.time()
            drain(spark, fx["spools"], star_sink(spark, fx["global"], db), ckpt,
                  max_files_per_trigger=1)
            best_full = min(best_full, time.time() - t0)
            shutil.rmtree(db.path, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)

            # -------- RESUME axis: crash late, time recovery --------
            db = _fresh_db(spark, f"scale_restart_crash_{n}_{r}")
            ckpt = f"{db.path}_ckpt"
            shutil.rmtree(ckpt, ignore_errors=True)
            # right after batch total-3 applies, between the ledger and
            # the checkpoint commit (the d182 crash point): history grows
            # with n, the resumed tail (the re-delivered batch plus the
            # two remaining files) is fixed
            _, resume = crash_and_resume(
                spark, db, ckpt, fx, crash_batch=total - 3, after=True
            )
            best_resume = min(best_resume, resume)
            shutil.rmtree(db.path, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)

        full_sec[str(n)] = round(best_full, 3)
        resume_sec[str(n)] = round(best_resume, 3)

    xs = [batches[str(n)] for n in N_FILES_SCALES]
    run_exp = round(_fit(xs, [full_sec[str(n)] for n in N_FILES_SCALES]), 3)
    resume_exp = round(_fit(xs, [resume_sec[str(n)] for n in N_FILES_SCALES]), 3)
    report = {
        "metric": "scale_trend_restart",
        "events_per_file": EVENTS_PER_FILE,
        "runs_per_point": runs_per_point,
        "n_files_scales": list(N_FILES_SCALES),
        "micro_batches": batches,
        "queries": {
            "d182_restart_exactly_once": {
                "round": "availableNow pass, 1 spool file per micro-batch;"
                         " resume = crash at batches-2, time recovery only",
                "full_run_sec": full_sec,
                "run_exponent": run_exp,
                "resume_sec": resume_sec,
                "resume_exponent": resume_exp,
                "state_invariant": resume_exp <= RESUME_EXP_BOUND,
            }
        },
        "run_bound": RUN_EXP_BOUND,
        "resume_bound": RESUME_EXP_BOUND,
    }
    assert run_exp <= RUN_EXP_BOUND, f"super-linear batch-count axis: {report}"
    assert resume_exp <= RESUME_EXP_BOUND, (
        f"recovery cost scales with history: {report}"
    )
    return report


if __name__ == "__main__":
    print(json.dumps(run(int(sys.argv[1]) if len(sys.argv) > 1 else 2)))
