"""Benchmark harness: the declared SURVEY §2 inventory at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
``{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}``

Protocol (BASELINE.md): sec/query over the declared inventory (warm JVM,
median of BENCH_RUNS runs, default 3 — the first run pays one-time plan
compile / codegen / Arrow init, the median reports steady-state), plus
ingest throughput (events/s) for the charlotte streaming pipeline over
synthetic unified2 spools. Every query executes fully via the noop sink
(no driver-side collect) — scan→compute→materialize, the same work a
cluster job does.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_QUERIES
(comma-list subset), BENCH_RUNS (median-of-N for every query).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from charlotte_spark.registry import load_all_queries
from charlotte_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
RUNS = int(os.environ.get("BENCH_RUNS", "3"))

# re-timed with median-of-3 even when BENCH_RUNS=1 (headline figures)
HEADLINE = [
    "q1_pricing_summary",
    "d14_inner_equijoin",
    "d24_groupby_multi_agg",
    "d33_ranking_functions",
    "d68_topk_bruteforce",
    "a66_minhash_lsh_neardup",
    "d79_contamination_screen",
    "d84_bucketed_colocated_join",
    "d86_kmeans",
]


def _run(make_df) -> float:
    # time plan construction too: queries that eagerly materialize a
    # shared intermediate (localCheckpoint) must not escape the clock
    t0 = time.perf_counter()
    make_df().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _median(xs: list[float]) -> float:
    return sorted(xs)[len(xs) // 2]


def _host_noise_snapshot() -> dict:
    """Host-noise evidence captured alongside the timings (VERDICT r09
    #2): the bench VM has heavy uncontrolled CPU steal — same-code
    timings swing up to 3x between windows — so every artifact carries
    the loadavg and cumulative steal counters needed to adjudicate
    movers without a manual same-host A/B."""
    snap = {}
    try:
        with open("/proc/loadavg") as fh:
            snap["loadavg"] = [float(x) for x in fh.read().split()[:3]]
    except OSError:
        pass
    try:
        with open("/proc/stat") as fh:
            cpu = fh.readline().split()  # cpu user nice sys idle iowait irq softirq steal
        fields = [int(x) for x in cpu[1:9]]
        snap["cpu_total_jiffies"] = sum(fields)
        snap["cpu_steal_jiffies"] = fields[7]
    except (OSError, IndexError, ValueError):
        pass
    return snap


def _steal_pct(start: dict, end: dict) -> float | None:
    """CPU-steal percentage over the benchmarked window."""
    try:
        dt = end["cpu_total_jiffies"] - start["cpu_total_jiffies"]
        ds = end["cpu_steal_jiffies"] - start["cpu_steal_jiffies"]
        return round(100.0 * ds / dt, 2) if dt > 0 else None
    except KeyError:
        return None


def bench_ingest(spark) -> dict:
    """Charlotte streaming pipeline throughput on synthetic unified2
    spools: events/s through parse→decode→enrich→star (BASELINE.md).

    Median of RUNS replays, same steady-state protocol as the query
    timings: a single measurement taken right after the 131-query sweep
    under-reported by ~25% (JVM post-inventory state), which showed up
    as a phantom ingest 'regression' in r02."""
    import shutil

    from charlotte_spark.cli import drain, star_sink
    from charlotte_spark.queries.charlotte_pipeline import _fresh_db, u2_fixture

    def one_replay(fx: dict, tag: str, i: int) -> float:
        db = _fresh_db(spark, f"bench_ingest_{tag}_{i}")
        ckpt = f"{db.path}_ckpt"
        if os.path.exists(ckpt):
            shutil.rmtree(ckpt)
        t0 = time.perf_counter()
        # 6 >= total fixture files: ONE micro-batch, matching the
        # pre-r13 per-source-union protocol (3/source then meant all 5
        # files in batch 0; the r13 shared-parent single source would
        # split 3+2 and pay a phantom extra micro-batch of overhead)
        drain(spark, fx["spools"], star_sink(spark, fx["global"], db), ckpt,
              max_files_per_trigger=6)
        return time.perf_counter() - t0

    def fx_events(fx: dict, events_per_file: int) -> int:
        """Event count DERIVED from the fixture's actual files (ADVICE
        r15: the former hard-coded literals had to stay in sync with
        u2_fixture's internal per-sensor file-count rule — the exact
        reported-vs-timed drift class the r15 fix closed)."""
        n_files = sum(
            len(os.listdir(d))
            for cfg in fx["spools"].values()
            for d in cfg["directories"]
        )
        return n_files * events_per_file

    # Headline leg fields are UNCHANGED (10k events, one micro-batch,
    # median of >=3 replays). Fixed/marginal split (VERDICT r14 #4,
    # measurement fix — the 10k scalar whipsaws across fixture/JVM
    # boundaries because stream-start fixed cost dominates a ~2 s run):
    # each round replays the SAME one-micro-batch pipeline at 10k and
    # at 200k events back to back (interleaved, so host drift cancels the
    # way the A/B tool's A/B/B/A runs do), and the split comes from the
    # median per-round delta. marginal_ev_s is the throughput the fixed
    # cost hides — comparable against the sustained harness
    # (INGEST_SUSTAINED_*.json); fixed_sec is the stream-start overhead
    # the 10k scalar is mostly made of. A non-positive median delta
    # reports marginal as null (window too noisy to split) rather than
    # a fabricated number.
    fx_s = u2_fixture(n_files=3, events_per_file=2000)
    fx_l = u2_fixture(n_files=3, events_per_file=40000)
    n_events = fx_events(fx_s, 2000)
    n_large = fx_events(fx_l, 40000)
    secs, secs_large = [], []
    for i in range(max(RUNS, 3)):  # ingest is always median-of->=3
        secs.append(one_replay(fx_s, "s", i))
        secs_large.append(one_replay(fx_l, "l", i))
    dt = _median(secs)
    dt_large = _median(secs_large)
    deltas = sorted(b - a for a, b in zip(secs, secs_large))
    delta = deltas[len(deltas) // 2]
    marginal = (n_large - n_events) / delta if delta > 0 else None
    return {"ingest_events": n_events, "ingest_sec": round(dt, 3),
            "ingest_events_per_sec": round(n_events / dt, 1),
            "ingest_runs_sec": [round(s, 3) for s in sorted(secs)],
            "ingest_large_events": n_large,
            "ingest_large_sec": round(dt_large, 3),
            "ingest_large_runs_sec": [round(s, 3) for s in sorted(secs_large)],
            "ingest_marginal_ev_s": round(marginal, 1) if marginal else None,
            "ingest_fixed_sec": (
                round(max(dt - n_events / marginal, 0.0), 3)
                if marginal
                else None
            )}


# Untouched, stable queries used as ambient-regime probes: their quiet
# costs are pinned by the committed BENCH_DETAIL.json, so this window's
# readings expose uniform host inflation that cumulative steal cannot
# see (VERDICT r15 #7: the r15 driver window read sentinels ~1.4x the
# committed quiet detail while steal said 0.82%).
SENTINELS = ("d223_decayed_heavy_hitters", "q1_pricing_summary")


def _sentinel_ratio(times: dict, committed: dict | None) -> float | None:
    """Median ratio of this window's sentinel timings to the COMMITTED
    (pre-run) quiet-window detail. ~1.0 = same regime as the committed
    baseline; >>1 = hot window, cross-window absolutes untrustworthy."""
    if not committed:
        return None
    rs = [
        times[q] / committed[q]
        for q in SENTINELS
        if times.get(q) and committed.get(q)
    ]
    return round(_median(rs), 3) if rs else None


def main() -> None:
    reg = load_all_queries()
    names = list(reg)
    subset = os.environ.get("BENCH_QUERIES")
    if subset:
        names = [n.strip() for n in subset.split(",") if n.strip() in reg]

    spark = get_spark("charlotte-spark-bench", cpus=CPUS)
    noise_start = _host_noise_snapshot()

    warm0 = time.perf_counter()
    reg[names[0]].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    warmup = time.perf_counter() - warm0

    times: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    for name in names:
        runs = [_run(lambda: reg[name].fn(spark, SF_DIR)) for _ in range(RUNS)]
        all_runs[name] = sorted(runs)
        times[name] = round(_median(runs), 3)
    for name in HEADLINE:
        if name in reg and (subset is None or name in names):
            runs = all_runs[name] + [
                _run(lambda: reg[name].fn(spark, SF_DIR)) for _ in range(2)
            ]
            all_runs[name] = sorted(runs)
            times[name] = round(_median(runs), 3)

    ingest = bench_ingest(spark) if subset is None else {}
    noise_end = _host_noise_snapshot()

    # Variance columns (VERDICT r09 #2): per-query relative spread
    # ((max-min)/median across the RUNS repeats) so cross-round movers
    # can be adjudicated against the in-run jitter, not just the
    # documented ~1.5x cross-window noise band.
    spread = {
        n: round((rs[-1] - rs[0]) / max(times[n], 1e-9), 3)
        for n, rs in all_runs.items()
    }
    spreads_sorted = sorted(spread.values())

    sf_match = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(sf_match.group(1).rstrip(".")) if sf_match else None
    detail = {
        "metric": "declared_inventory_total_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "query_runs": {n: [round(x, 3) for x in rs] for n, rs in all_runs.items()},
        "query_rel_spread": spread,
        "rel_spread_median": spreads_sorted[len(spreads_sorted) // 2],
        "rel_spread_p90": spreads_sorted[int(len(spreads_sorted) * 0.9)],
        "host_noise_start": noise_start,
        "host_noise_end": noise_end,
        "cpu_steal_pct": _steal_pct(noise_start, noise_end),
        "sf": sf,
        "warmup_sec": round(warmup, 3),
        "n_queries": len(times),
        "runs_per_query": RUNS,
        **ingest,
    }
    # Full per-query timings go to a repo file: 131 queries exceed the
    # driver's bounded stdout tail, which left BENCH_r02.json unparsed.
    # BENCH_DETAIL.json is the committed cross-round reference and must
    # stay a QUIET-window artifact (VERDICT r12 "What's wrong" #3: the
    # driver's steal-2.67% window overwrote the builder's steal-0.17%
    # one). Every full run writes BENCH_DETAIL_LAST.json; promotion to
    # BENCH_DETAIL.json happens only when the window measured quiet.
    here = os.path.dirname(os.path.abspath(__file__))
    # sentinel ratio vs the COMMITTED detail, read BEFORE any promotion
    # below can overwrite it (the ratio must compare against the prior
    # quiet window, not this run's own numbers)
    committed_q = None
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json")) as fh:
            committed = json.load(fh)
        if committed.get("sf") == sf:  # cross-SF ratios are meaningless
            committed_q = committed.get("queries")
    except (OSError, ValueError):
        pass
    detail["sentinel_ratio"] = _sentinel_ratio(times, committed_q)
    promoted = None  # subset runs: promotion not applicable
    if subset is None:  # subset runs never clobber full-run artifacts
        blob = json.dumps(detail, indent=1, sort_keys=True) + "\n"
        with open(os.path.join(here, "BENCH_DETAIL_LAST.json"), "w") as fh:
            fh.write(blob)
        # an UNMEASURABLE window (steal None: unreadable /proc/stat or
        # dt<=0) is NOT quiet — never promote it (ADVICE r14). r16: a
        # window whose UNTOUCHED sentinels read >1.25x the committed
        # quiet detail is ambient-inflated even at steal 0 (the r15
        # steal-0.19% window read 1.39x and had to be manually
        # restored) — formalize that manual check into the gate. A
        # missing committed detail (ratio None) does not block.
        steal = detail["cpu_steal_pct"]
        sratio = detail["sentinel_ratio"]
        promoted = (
            steal is not None
            and steal <= 0.5
            and (sratio is None or sratio <= 1.25)
        )
        if promoted:
            with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
                fh.write(blob)
    # stdout gets ONE short line (<1.5 KB): headline metric + the 10
    # slowest queries, so the driver can parse it whole.
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:10])
    summary = {
        k: v
        for k, v in detail.items()
        if k not in ("queries", "query_runs", "query_rel_spread",
                     "host_noise_start", "host_noise_end", "ingest_runs_sec",
                     "ingest_large_runs_sec")
    }
    summary["queries"] = slowest
    summary["queries_detail"] = "BENCH_DETAIL.json"
    # Promotion outcome in the parseable line (ADVICE r13): without it
    # a run of noisy windows leaves the committed cross-round detail
    # stale with no stdout signal. cpu_steal_pct rides along above.
    # Cross-round A/B adjudication (tools/bench_ab.py --auto-from) must
    # run AFTER the round's final promoting run, against the promoted
    # file (VERDICT r13 #3) — the report stamps which blob it saw.
    summary["detail_promoted"] = promoted
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    sys.exit(main())
