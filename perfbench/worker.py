"""Spark side of the benchmark: one workload in one fresh process.

``run.py`` starts this file with a JSON job description and waits for
it. This process sets up Spark, warms up, runs the timed phase and
writes ``result.json`` into its scratch directory. The star is checked
against the generator's ledger by ``run.py``, outside every timed
window; only the query oracles are compared here, after the timed
phase, because they need the rows Spark returned.

With tracing on, the ingest stream is composed here from the same calls
``cli.run`` makes, so that each call can be timed, and the layers that
the workload does not reach are driven once after the timed phase, so
that every traced run reports every layer.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from urllib.parse import unquote, urlparse

from charlotte_spark import cli
from charlotte_spark.registry import load_all_queries
from charlotte_spark.session import get_spark
from charlotte_spark.sources import unified2
from charlotte_spark.sources.u2_spark import read_spools
from charlotte_spark.streaming.maps import load_maps
from charlotte_spark.streaming.snorby import FACT_TABLES, SnorbyDB, apply_batch, enrich

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import proctree  # noqa: E402
import report  # noqa: E402
from tracing import NullTracer, Tracer  # noqa: E402

# The curation mix: read-only scan-heavy plans, and an arrival loop that
# writes and re-reads an index generation per round. README.md says
# which registry queries are left out and why.
SCAN_QUERIES = (
    "q1_pricing_summary", "d24_groupby_multi_agg", "d68_topk_bruteforce",
    "a66_minhash_lsh_neardup", "d79_contamination_screen", "d86_kmeans",
)
LOOP_QUERIES = ("d184_ann_index_arrival",)
MIX = SCAN_QUERIES + LOOP_QUERIES
# One timed pass runs the scan queries this many times and the loop
# once: the short scans are the noisiest, and the loop the longest.
SCAN_REPEATS = 2

STAR_REPORT_PASSES = 5
# Drains timed per run, at least. Each drain still runs faster than the
# one before it (JIT warm-up), so the number timed must not depend on
# how fast the host happens to be while the program is this slow.
MIN_DRAINS = 2


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Clock:
    """Wall seconds of the body, and CPU seconds of this process tree."""

    def __enter__(self):
        self.wall, self.cpu = time.perf_counter(), proctree.cpu_s(os.getpid())
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.wall
        self.cpu = proctree.cpu_s(os.getpid()) - self.cpu


class Summed:
    """Sum over queries of each query's median wall and CPU time."""

    def __init__(self, runs_per_query):
        runs = list(runs_per_query)
        self.wall = sum(median([c.wall for c in r]) for r in runs)
        self.cpu = sum(median([c.cpu for c in r]) for r in runs)


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Job:
    """State of one workload run: session, tracer, outputs."""

    def __init__(self, spec: dict):
        self.spec = spec
        self.scratch = spec["scratch"]
        self.trace = bool(spec["trace"])
        self.tr = Tracer(f"{spec['workload']}-s{spec['seed']}") if self.trace else NullTracer()
        self.metrics: dict[str, float] = {}
        self.out: dict = {"attempted": 0, "failed": 0, "errors": [], "stars": []}
        self.spark = None
        self.listener = None
        self.arrivals: dict[str, float] = {}  # spool file path -> wall time it arrived
        self.rows: dict[str, int] = {}  # spool file path -> rows the ledger expects

    def op(self, ok: bool, what: str = "") -> None:
        self.out["attempted"] += 1
        if not ok:
            self.out["failed"] += 1
            self.out["errors"].append(what)

    def jobs(self) -> int:
        """Spark jobs submitted so far in this context."""
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def setup_session(self) -> None:
        with self.tr.span("session.get_spark"):
            self.spark = get_spark("perfbench", cpus=self.spec["cpus"])
        with self.tr.span("session.first_job"):
            self.spark.range(1).count()
        self.out["jvm_pid"] = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        if self.trace:
            self.metrics["session.get_spark_s"] = self.tr.durations("session.get_spark")[0]
            self.metrics["session.first_job_s"] = self.tr.durations("session.first_job")[0]
            self.listener = StreamListener(self.spark)

    def timed(self) -> None:
        """Mark the end of set-up: ``run.py`` takes ``setup_s`` from it."""
        self.out["t_timed"] = time.time()
        self.metrics["cpu.setup_s"] = proctree.cpu_s(os.getpid())

    def record(self, metric: str, clocks: list) -> None:
        """``<metric>_s`` and ``cpu.<metric>_s``: the median wall and CPU
        time of ``clocks``."""
        self.metrics[f"{metric}_s"] = median([c.wall for c in clocks])
        self.metrics[f"cpu.{metric}_s"] = median([c.cpu for c in clocks])
        self.out.setdefault("units", {})[metric] = [[c.wall, c.cpu] for c in clocks]

    def peak_rss_mb(self) -> float:
        self.out["hwm_mb"] = {"jvm": vm_hwm_kb(self.out["jvm_pid"]) / 1024.0,
                              "python": vm_hwm_kb("self") / 1024.0}
        return sum(self.out["hwm_mb"].values())

    # -- ingest -------------------------------------------------------------------

    def drain(self, tag: str, ledger: dict) -> Clock:
        """Copy the ledger's files into a fresh spool, drain it into a
        fresh star and return the drain's wall and CPU time."""
        spool, star = f"{self.scratch}/{tag}/spool", f"{self.scratch}/{tag}/star"
        cfg = {
            "global": {**ledger["maps"], "checkpoint_dir": f"{self.scratch}/{tag}/ckpt"},
            "spools": {s: {"directories": [f"{spool}/{s}"], "prefix": gen.PREFIX}
                       for s in ledger["sensors"]},
            "plugin_snorby_parquet": {"path": star},
        }
        gen.place_backlog(ledger, spool)
        self.out["stars"].append({"star": star, "shape": ledger["shape"],
                                  "checkpoint": cfg["global"]["checkpoint_dir"]})
        t0 = time.time()
        for i, f in enumerate(ledger["files"]):
            path = os.path.realpath(os.path.join(spool, f["sensor"], gen.spool_name(i)))
            self.arrivals[path] = t0
            self.rows[path] = f["rows"]
        with Clock() as c:
            self.run_stream(cfg)
        return c

    def run_stream(self, cfg: dict) -> None:
        """``cli.run`` untraced. Traced, the same stream composed here:
        read_spools -> foreachBatch(load_maps -> enrich -> apply_batch)."""
        if not self.trace:
            cli.run(cfg, test_mode=False, follow=False, spark=self.spark)
            return
        spark, tr = self.spark, self.tr
        g, ckpt = cfg["global"], cfg["global"]["checkpoint_dir"]
        db = TracedSnorbyDB(spark, cfg["plugin_snorby_parquet"]["path"], tr)

        def sink(batch_df, batch_id):
            with tr.span("cli.sink", batch=batch_id) as s:
                s["files"] = batch_files(ckpt, batch_id)
                before, j0 = star_files(db.path), self.jobs()
                with tr.span("maps.load_maps"):
                    sig_map, class_map = load_maps(
                        spark, g["signature_map"], g["generator_map"], g["classification_map"])
                with tr.span("snorby.enrich"):
                    enriched = enrich(batch_df, sig_map, class_map)
                with tr.span("snorby.apply_batch") as a:
                    db.parent = a["id"]
                    apply_batch(db, enriched, batch_id)
                s["jobs"] = self.jobs() - j0
                s["new_files"] = len(star_files(db.path) - before)

        with tr.span("cli.run"):
            read_spools(spark, cfg["spools"], streaming=True).writeStream.foreachBatch(
                sink).option("checkpointLocation", ckpt).trigger(
                availableNow=True).start().awaitTermination()

    # -- reads --------------------------------------------------------------------

    def star_report(self, star: str, passes: int) -> list[Clock]:
        """One untimed warm pass, then ``passes`` timed passes, whose
        clocks are returned. Every pass's answer is kept for checking."""
        db = SnorbyDB(self.spark, star)
        times, answers = [], []
        for i in range(passes + 1):
            j0 = self.jobs() if self.trace else 0
            try:
                with self.tr.span("star.report"), Clock() as c:
                    answers.append(report.spark_report(db))
            except Exception as e:  # noqa: BLE001 - a failed pass is a counted op
                self.op(False, f"star report pass {i}: {e!r}")
                continue
            if i:
                times.append(c)
            if self.trace:
                self.metrics["star.report_jobs"] = self.jobs() - j0
        self.out["star_reports"] = {"star": star, "answers": answers}
        if self.trace:
            self.metrics["star.files_read"] = sum(
                1 for t in report.TABLES for f in os.listdir(f"{star}/{t}")
                if f.endswith(".parquet"))
        return times

    def query_pass(self, reg: dict, order: list[str]) -> dict:
        """Run each query as bench.py times it (plan + noop write);
        returns name -> (Clock, Spark jobs; 0 untraced)."""
        each = {}
        for name in order:
            j0 = self.jobs() if self.trace else 0
            with Clock() as c:
                try:
                    with self.tr.span("queries.run", query=name):
                        reg[name].fn(self.spark, self.spec["data_dir"]).write.format(
                            "noop").mode("overwrite").save()
                    self.op(True)
                except Exception as e:  # noqa: BLE001 - a failed query is a counted op
                    self.op(False, f"{name}: {e!r}")
            each[name] = (c, self.jobs() - j0 if self.trace else 0)
        return each


class TracedSnorbyDB(SnorbyDB):
    """SnorbyDB whose writes are spans. The fact appends run on the
    sink's thread pool, so their parent is set per batch."""

    def __init__(self, spark, path, tr):
        super().__init__(spark, path)
        self.tr, self.parent = tr, None

    def append(self, name, df):
        with self.tr.span("snorby.append", parent=self.parent, table=name):
            super().append(name, df)

    def overwrite_small(self, name, rows, schema):
        with self.tr.span("snorby.overwrite_small", table=name):
            super().overwrite_small(name, rows, schema)

    def mark_applied(self, batch_id):
        with self.tr.span("snorby.mark_applied"):
            super().mark_applied(batch_id)


class StreamListener:
    """Bench-attached StreamingQueryListener: each micro-batch's durationMs."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                progress.append({"wall": time.time(), **event.progress.durationMs})

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self.spark, self.impl = spark, _L()
        spark.streams.addListener(self.impl)

    def close(self):
        self.spark.streams.removeListener(self.impl)


def batch_files(ckpt: str, batch_id: int) -> list[str]:
    """Paths in one micro-batch, from the file source's offset log."""
    try:
        with open(f"{ckpt}/sources/0/{batch_id}") as f:
            return [os.path.realpath(unquote(urlparse(json.loads(line)["path"]).path))
                    for line in f if line.startswith("{")]
    except OSError:
        return []


def star_files(star: str) -> set[str]:
    return {f"{t}/{f}" for t in FACT_TABLES if os.path.isdir(f"{star}/{t}")
            for f in os.listdir(f"{star}/{t}") if f.endswith(".parquet")}


# ---------------------------------------------------------------------------
# workloads: each marks the timed phase and records ingest_* and query_*
# ---------------------------------------------------------------------------


def spool_backlog(job: Job) -> None:
    """Warm-up drain; timed drains of the big backlog; star report."""
    led = job.spec["ledgers"]["backlog"]
    job.drain("warm", job.spec["ledgers"]["small"])
    job.timed()
    drains = []
    while len(drains) < MIN_DRAINS or time.time() - job.out["t_timed"] < job.spec["seconds"]:
        drains.append(job.drain(f"drain{len(drains)}", led))
    job.out["alerts_per_s"] = (sum(f["alerts"] for f in led["files"])
                               / median([c.wall for c in drains]))
    job.record("ingest", drains)
    job.record("query", job.star_report(job.out["stars"][-1]["star"], STAR_REPORT_PASSES))


def curation_queries(job: Job) -> None:
    """Oracle-checked warm-up pass; timed passes over the mix."""
    spec = job.spec
    reg = load_all_queries()
    checked = {}
    for name in MIX:
        try:
            checked[name] = report.canon_rows(reg[name].fn(job.spark, spec["data_dir"]))
        except Exception as e:  # noqa: BLE001 - a failed query is a counted op
            job.op(False, f"{name} warm-up: {e!r}")
    job.timed()
    passes = []
    while not passes or time.time() - job.out["t_timed"] < spec["seconds"]:
        passes.append(job.query_pass(reg, list(MIX)))
        passes += [job.query_pass(reg, list(SCAN_QUERIES)) for _ in range(SCAN_REPEATS - 1)]
    for metric, names in (("query", SCAN_QUERIES), ("ingest", LOOP_QUERIES)):
        job.record(metric, [Summed([p[n][0] for p in passes if n in p] for n in names)])
    for name, rows in checked.items():
        ok, why = report.oracle_match(rows, reg[name].oracle, spec["data_dir"])
        job.op(ok, f"{name} oracle: {why}")
    if job.trace:
        query_layer_metrics(job, passes)


# ---------------------------------------------------------------------------
# per-layer metrics (traced runs)
# ---------------------------------------------------------------------------


def query_layer_metrics(job: Job, passes: list[dict]) -> None:
    m = job.metrics
    for name in MIX:
        m[f"queries.{name}_s"] = median([p[name][0].wall for p in passes if name in p])
        m[f"queries.{name}_jobs"] = next(p[name][1] for p in passes if name in p)
    m["queries.scan_s"] = sum(m[f"queries.{n}_s"] for n in SCAN_QUERIES)
    m["queries.loop_s"] = sum(m[f"queries.{n}_s"] for n in LOOP_QUERIES)
    m["spark.jobs"] = sum(m[f"queries.{n}_jobs"] for n in MIX)


def ingest_layer_metrics(job: Job, since: float) -> None:
    """From the spans and listener events at or after ``since`` (wall)."""
    m, off = job.metrics, time.time() - time.perf_counter()
    spans = [s for s in job.tr.spans if s["start"] + off >= since]

    def durs(name, table=None):
        return [s["end"] - s["start"] for s in spans
                if s["name"] == name and (table is None or s.get("table") == table)]

    sinks = [s for s in spans if s["name"] == "cli.sink"]
    m["maps.load_s_p50"] = median(durs("maps.load_maps"))
    m["snorby.apply_batch_s_p50"] = median(durs("snorby.apply_batch"))
    for t in FACT_TABLES:
        m[f"snorby.append_s_p50.{t}"] = median(durs("snorby.append", t))
    m["snorby.jobs_per_batch"] = median([s["jobs"] for s in sinks])
    m["snorby.files_per_batch"] = median([s["new_files"] for s in sinks])
    m["snorby.rows_per_batch"] = median([sum(job.rows[f] for f in s["files"]) for s in sinks])
    m["cli.batches"] = len(sinks)
    m["cli.queue_wait_s_p50"] = median(
        [s["start"] + off - job.arrivals[f] for s in sinks for f in s["files"]])
    prog = [p for p in job.listener.progress if p["wall"] >= since and "triggerExecution" in p]
    m["cli.batch_s_p50"] = median([p["triggerExecution"] / 1000 for p in prog])
    m["cli.trigger_overhead_s_p50"] = median(
        [(p["triggerExecution"] - p.get("addBatch", 0)) / 1000 for p in prog])


def u2_layer_metrics(job: Job, ledger: dict) -> None:
    """Single-thread parse and decode over the workload's own files, and
    a batch ``read_spools`` + noop write over the same files."""
    n_alerts = n_frames = 0
    t_parse = t_decode = 0.0
    for f in ledger["files"]:
        with open(os.path.join(ledger["root"], f["file"]), "rb") as fh:
            data = fh.read()
        t = time.perf_counter()
        alerts = unified2.parse_alerts(data)
        t_parse += time.perf_counter() - t
        frames = [fr for a in alerts for fr in a["packets"]]
        t = time.perf_counter()
        for fr in frames:
            unified2.decode_ethernet(fr)
        t_decode += time.perf_counter() - t
        n_alerts += len(alerts)
        n_frames += len(frames)
    m = job.metrics
    m["unified2.parse_us_per_alert"] = 1e6 * t_parse / max(1, n_alerts)
    m["unified2.decode_us_per_frame"] = 1e6 * t_decode / max(1, n_frames)
    spool = f"{job.scratch}/u2probe/spool"
    gen.place_backlog(ledger, spool)
    spools = {s: {"directories": [f"{spool}/{s}"], "prefix": gen.PREFIX} for s in ledger["sensors"]}
    t = time.perf_counter()
    with job.tr.span("u2_spark.read_spools"):
        read_spools(job.spark, spools, streaming=False).write.format("noop").mode(
            "overwrite").save()
    m["u2_spark.read_us_per_row"] = (
        1e6 * (time.perf_counter() - t) / sum(f["rows"] for f in ledger["files"]))


def traced_layers(job: Job) -> None:
    """Per-layer metrics. Layers the workload does not reach are driven
    once here: a drain of the small spool set and its star report for
    curation_queries, one query pass for spool_backlog."""
    ledgers = job.spec["ledgers"]
    since = job.out["t_timed"]
    if job.spec["workload"] == "curation_queries":
        since = time.time()
        job.drain("probe", ledgers["small"])
        job.star_report(job.out["stars"][-1]["star"], 1)
        u2_ledger = ledgers["small"]
    else:
        u2_ledger = ledgers["backlog"]
        query_layer_metrics(job, [job.query_pass(load_all_queries(), list(MIX))])
    time.sleep(1.0)  # the listener bus delivers progress events asynchronously
    ingest_layer_metrics(job, since)
    u2_layer_metrics(job, u2_ledger)


WORKLOADS = {"spool_backlog": spool_backlog, "curation_queries": curation_queries}


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    job = Job(spec)
    job.setup_session()
    try:
        WORKLOADS[spec["workload"]](job)
        job.out["peak_rss_mb"] = job.peak_rss_mb()
        if job.trace:
            job.metrics["session.peak_rss_mb"] = job.out["peak_rss_mb"]
            traced_layers(job)
    finally:
        if job.listener is not None:
            job.listener.close()
        job.out["metrics"] = job.metrics
        with open(f"{job.scratch}/result.json", "w") as f:
            json.dump(job.out, f)
        if job.trace:
            job.tr.write(spec["trace_out"])
        job.spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
