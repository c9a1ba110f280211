#!/usr/bin/env python3
"""Ingest-and-query benchmark for charlotte_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the seeded inputs (cached under
``perfbench/.work/cache``), runs the workload in a fresh worker process,
checks every output, and prints one JSON object as the last line of
stdout: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``). The line before it holds host diagnostics.
Exits 0 only when every output checked correct. See README.md.
"""

from __future__ import annotations

import argparse
import bisect
import ctypes
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import proctree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
RUN_LIMIT_S = 170  # the whole run must end within 180 s
PR_SET_CHILD_SUBREAPER = 36

LEDGERS = {
    "spool_backlog": ("backlog", "small"),
    "curation_queries": ("small",),
}


def host_snapshot() -> dict:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"cpu": cpu, "loadavg": load}


def host_diagnostics(a: dict, b: dict) -> dict:
    """busy and steal % over the run (user nice system idle iowait irq softirq steal)."""
    d = [y - x for x, y in zip(a["cpu"], b["cpu"])]
    total = sum(d) or 1
    return {"busy_pct": round(100.0 * (total - d[3] - d[4]) / total, 2),
            "steal_pct": round(100.0 * d[7] / total, 2), "loadavg": b["loadavg"]}


def driver_mem() -> str:
    """Driver heap for this host: a quarter of RAM, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1, min(4, total_kb // (4 * 1024 * 1024)))}g"


def scratch_env(scratch: str) -> dict:
    """Environment that keeps the engine's scratch inside this run's
    directory: every ``_scratch_root`` override the engine reads, its
    checkpoint dir, Spark's local dirs, and the JVM and Python temp dirs."""
    names = {"CHARLOTTE_CKPT_DIR"}
    pat = re.compile(r"_scratch_root\(\s*['\"](\w+)['\"]")
    for d, _, fs in os.walk(os.path.join(ROOT, "charlotte_spark")):
        for f in fs:
            if f.endswith(".py"):
                with open(os.path.join(d, f)) as fh:
                    names.update(pat.findall(fh.read()))
    env = {n: os.path.join(scratch, "engine", n.lower()) for n in sorted(names)}
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        # no hsperfdata file: the JVM would write it under /tmp whatever its tmpdir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def run_worker(spec: dict, deadline: float) -> tuple[int, float]:
    """Start worker.py and wait for it, then stop and reap every process
    it started. PySpark's daemon leaves the worker's process group, so
    this process becomes the subreaper of the whole tree: whatever
    outlives its parent is re-parented here and can be waited for."""
    scratch = spec["scratch"]
    spec_path = os.path.join(scratch, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = dict(os.environ)
    env.update(scratch_env(scratch))
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(spec["cpus"]),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
    })
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    with open(os.path.join(scratch, "worker.log"), "wb") as log:
        t_spawn = time.time()
        p = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), spec_path],
                             cwd=scratch, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = -1
        finally:
            stop_tree()
    return rc, t_spawn


def reap() -> None:
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def stop_tree() -> None:
    """Give every descendant 5 s to end after SIGTERM, then SIGKILL;
    return once every one has ended and been reaped."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        end = time.time() + 5.0
        for pid in proctree.descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while proctree.descendants(os.getpid()) and time.time() < end:
            reap()
            time.sleep(0.05)
    reap()


def source_digest() -> str:
    """Digest of the engine's and the benchmark's source files."""
    h = hashlib.sha256()
    for top in ("charlotte_spark", "perfbench"):
        for d, dirs, fs in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x not in (".work", "__pycache__"))
            for f in sorted(fs):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# checks (outside every timed window)
# ---------------------------------------------------------------------------


class Checks:
    def __init__(self):
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def check_star(ck: Checks, star: dict, ledger: dict) -> None:
    """The star must hold exactly the ledger's files: per-file rows,
    per-table counts, dense per-sensor cids, per-signature rows, one
    ``_batches`` marker per committed micro-batch."""
    import duckdb
    import gen

    files = ledger["files"]
    want = gen.totals(files)
    path = star["star"]
    con = duckdb.connect()
    try:
        def q(sql):
            return con.execute(sql).fetchall()

        def view(t):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}/{t}/*.parquet')")

        for t in ("event", "sensor", "signature", "iphdr", "tcphdr", "udphdr", "icmphdr", "data",
                  "_batches"):
            view(t)
        for t, n in want["tables"].items():
            got = q(f"SELECT count(*) FROM {t}")[0][0]
            ck.op(got == n, f"{path}: {t} has {got} rows, ledger {n}")
        secs: dict[str, tuple[list, list]] = {}
        for host, sec, n in q("SELECT hostname, epoch(timestamp)::BIGINT AS s, count(*) FROM event "
                              "JOIN sensor USING (sid) GROUP BY ALL ORDER BY hostname, s"):
            ks, cs = secs.setdefault(host, ([], [0]))
            ks.append(sec)
            cs.append(cs[-1] + n)
        for f in files:
            ks, cs = secs.get(f["sensor"], ([], [0]))
            lo = bisect.bisect_left(ks, f["first_second"])
            hi = bisect.bisect_right(ks, f["last_second"])
            got = cs[hi] - cs[lo]
            ck.op(got == f["rows"] and hi - lo == f["alerts"],
                  f"{path}: file {f['file']} has {got} rows in {hi - lo} alerts, ledger "
                  f"{f['rows']} in {f['alerts']}")
        rows = q("SELECT hostname, count(*), count(DISTINCT cid), min(cid), max(cid), "
                 "any_value(last_cid) FROM event JOIN sensor USING (sid) GROUP BY hostname")
        for host, n, nd, lo, hi, last in rows:
            w = want["by_sensor"].get(host, {}).get("rows")
            ck.op(n == nd == hi == last == w and lo == 1,
                  f"{path}: {host} cids n={n} distinct={nd} min={lo} max={hi} last_cid={last}, "
                  f"ledger rows {w}")
        ck.op(len(rows) == len(want["by_sensor"]), f"{path}: {len(rows)} sensors in star")
        by_sig: dict[str, int] = {}
        for f in files:
            for k, n in f["by_sig"].items():
                by_sig[k] = by_sig.get(k, 0) + n
        got = {f"{g}:{s}": n for g, s, n in q(
            "SELECT sig_gid, sig_sid, count(*) FROM event JOIN signature "
            "ON event.signature = signature.sig_id GROUP BY ALL")}
        ck.op(got == by_sig, f"{path}: per-signature rows differ from the ledger")
        n_mark, n_distinct = q("SELECT count(*), count(DISTINCT batch_id) FROM _batches")[0]
        commits = os.path.join(star["checkpoint"], "commits")
        n_commit = len([c for c in os.listdir(commits) if c.isdigit()])
        ck.op(n_mark == n_distinct == n_commit,
              f"{path}: {n_mark} batch markers ({n_distinct} distinct), {n_commit} commits")
    finally:
        con.close()


def check_reports(ck: Checks, reports: dict, ledger: dict) -> None:
    """Every star-report pass must equal DuckDB's answer over the same
    parquet, whose per-sensor-hour counts must equal the ledger's."""
    import report

    duck = report.duck_report(reports["star"])
    hours: dict[tuple, int] = {}
    for f in ledger["files"]:
        for h, n in f["by_hour"].items():
            key = (f["sensor"], time.strftime("%Y-%m-%d %H", time.gmtime(int(h))))
            hours[key] = hours.get(key, 0) + n
    ck.op({(h, t): n for h, t, n in duck["per_sensor_hour"]} == hours,
          f"{reports['star']}: DuckDB per-sensor-hour counts differ from the ledger")
    for i, ans in enumerate(reports["answers"]):
        ck.op(ans == duck, f"{reports['star']}: star report pass {i} differs from DuckDB")


# ---------------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.time()
    args = parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "charlotte_spark", "__init__.py")):
        print(f"perfbench: no charlotte_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(bench_path) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen

    before = host_snapshot()
    ledgers = {s: gen.generate(os.path.join(WORK, "cache"), s, args.seed)
               for s in LEDGERS[args.workload]}
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    ck = Checks()
    out = None
    try:
        spec = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scratch": scratch, "ledgers": ledgers,
            "cpus": len(os.sched_getaffinity(0)), "data_dir": DATA_DIR,
            "trace_out": os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"),
        }
        rc, t_spawn = run_worker(spec, t_start + RUN_LIMIT_S)
        try:
            with open(os.path.join(scratch, "result.json")) as f:
                out = json.load(f)
        except (OSError, ValueError):
            out = None
        if rc != 0 or out is None:
            with open(os.path.join(scratch, "worker.log"), errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            ck.op(False, f"worker exited {rc}")
        else:
            ck.attempted += out["attempted"]
            ck.failed += out["failed"]
            ck.errors += out["errors"]
            try:
                for star in out["stars"]:
                    check_star(ck, star, ledgers[star["shape"]])
                if "star_reports" in out:
                    rep = out["star_reports"]
                    star = next(s for s in out["stars"] if s["star"] == rep["star"])
                    check_reports(ck, rep, ledgers[star["shape"]])
            except Exception as e:  # noqa: BLE001 - a check that cannot run is a failure
                ck.op(False, f"check raised {e!r}")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    metrics: dict[str, float] = {}
    if out is not None:
        metrics.update(out["metrics"])
        if "t_timed" in out:
            metrics["setup_s"] = out["t_timed"] - t_spawn
    metrics["op_success_ratio"] = (ck.attempted - ck.failed) / max(1, ck.attempted)
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        ck.op(False, f"metrics not measured: {missing}")
    diag = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            **host_diagnostics(before, host_snapshot()), "errors": ck.errors[:20]}
    e2e = {m["name"]: metrics[m["name"]] for m in bench["end_to_end"] if m["name"] in metrics}
    if out is not None:
        for k in ("units", "alerts_per_s", "peak_rss_mb", "hwm_mb"):
            if k in out:
                diag[k] = out[k]
        # the untraced figures of this workload and seed, on this very source
        last = os.path.join(WORK, f"last-{args.workload}-s{args.seed}-{source_digest()}.json")
        if args.trace and os.path.exists(last):
            with open(last) as f:
                untraced = json.load(f)
            diag["tracing_overhead"] = {k: e2e[k] - v for k, v in untraced["e2e"].items()
                                        if k in e2e}
            diag["tracing_overhead"]["untraced_age_s"] = time.time() - untraced["time"]
        elif not args.trace and ck.failed == 0:
            with open(last, "w") as f:
                json.dump({"e2e": e2e, "time": time.time()}, f)
        diag["end_to_end"] = e2e
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({
        "correct": ck.failed == 0 and ck.attempted > 0,
        "attempted": ck.attempted,
        "failed": ck.failed,
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0 if ck.failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
