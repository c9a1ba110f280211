"""Measured SF-scaling trend for headline operator shapes.

The standing caveat (VERDICT r10/r11): at sf0.1 the declared queries sit
on a fixed-stage-latency floor, so the 100 TB claims rest on PLAN SHAPE
pins rather than measured scaling. This tool measures the next-best
thing a single node can: wall time vs data scale for representative
operator shapes, on deterministically replicated corpora (4x, 16x, 64x
of sf0.1; the 1x point sits fully on the fixed-stage floor and is
skipped — a warmup pass absorbs first-run codegen instead), and fits the log-log scaling exponent per query. A shape
that is secretly super-linear (skewed shuffle, quadratic candidate
generation, single-reducer funnel) shows an exponent drifting past 1;
fixed overhead flattens exponents BELOW 1, so the assertion is an
upper bound.

Replication is id-remapped and text-perturbed: documents get doc_id +
k*1e7 and a per-replica suffix on EVERY token (so exact / near-dup
structure is preserved WITHIN each replica — the same pure transform
applied corpus-wide — while token n-gram shingle sets are DISJOINT
across replicas; a weaker perturbation, e.g. one appended token,
leaves replica shingle sets ~identical, MinHash bands collide across
replicas, and LSH pair counts grow quadratically in the replica count
by construction — the first run of this tool measured exactly that
exponent 1.39 artifact); lineitem/orders get orderkey offsets. Tables
a query does not scale over are symlinked from sf0.1 unchanged.

Usage: python tools/scale_trend.py [runs_per_point]
Writes one JSON line; paste into SCALE_TREND_r12.json / SCALE.md.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from charlotte_spark.registry import load_all_queries  # noqa: E402
from charlotte_spark.session import get_spark  # noqa: E402
from charlotte_spark.operators.loopstate import scratch_dir  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
SCALES = (4, 16, 64)
# Representative shapes: columnar scan+agg, hash dedup window, LSH
# shingle/band join, grouped distributed prefix, explode+join TF-IDF,
# broadcast star join (scaled fact side), broadcast-semijoin
# contamination screen, streaming event-time tumbling windows.
QUERIES = (
    "q1_pricing_summary",
    "d65_exact_dedup",
    "a66_minhash_lsh_neardup",
    "d80_sequence_packing",
    "d70_tf_idf",
    "d15_broadcast_dim_join",
    "d79_contamination_screen",
    "d53_tumbling_window",
)
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
MAX_EXPONENT = 1.35  # linear + AQE/planning wobble; >1 drift = super-linear


def _build_scaled(spark, scale: int) -> str:
    root = scratch_dir(f"trend_x{scale}")
    os.makedirs(root)
    for t in TABLES:
        src = f"{BASE_SF}/{t}.parquet"
        dst = f"{root}/{t}.parquet"
        if t not in ("documents", "lineitem", "orders", "customer", "events"):
            os.symlink(src, dst)
            continue
        df = spark.read.parquet(src)
        parts = []
        for k in range(scale):
            if t == "documents":
                parts.append(
                    df.select(
                        (F.col("doc_id") + k * 10_000_000).alias("doc_id"),
                        F.array_join(
                            F.transform(
                                F.split("text", " "),
                                lambda x: F.concat(x, F.lit(f"_r{k}")),
                            ),
                            " ",
                        ).alias("text"),
                        *[c for c in df.columns if c not in ("doc_id", "text")],
                    )
                )
            elif t == "orders":
                parts.append(
                    df.select(
                        (F.col("o_orderkey") + k * 100_000_000).alias("o_orderkey"),
                        *[c for c in df.columns if c != "o_orderkey"],
                    )
                )
            elif t == "customer":
                parts.append(
                    df.select(
                        (F.col("c_custkey") + k * 100_000_000).alias("c_custkey"),
                        *[c for c in df.columns if c != "c_custkey"],
                    )
                )
            elif t == "events":
                # more users at the same per-user density and the same
                # time range — volume scaling, not hot-key scaling
                parts.append(
                    df.select(
                        (F.col("event_id") + k * 1_000_000_000).alias("event_id"),
                        (F.col("user_id") + k * 10_000_000).alias("user_id"),
                        *[c for c in df.columns if c not in ("event_id", "user_id")],
                    )
                )
            else:  # lineitem
                parts.append(
                    df.select(
                        (F.col("l_orderkey") + k * 100_000_000).alias("l_orderkey"),
                        *[c for c in df.columns if c != "l_orderkey"],
                    )
                )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(dst)
    return root


def _fit_exponent(xs: list[float], ys: list[float]) -> float:
    lx = [math.log(x) for x in xs]
    ly = [math.log(y) for y in ys]
    n = len(lx)
    mx, my = sum(lx) / n, sum(ly) / n
    num = sum((a - mx) * (b - my) for a, b in zip(lx, ly))
    den = sum((a - mx) ** 2 for a in lx)
    return num / den


def run(runs_per_point: int = 2) -> dict:
    spark = get_spark("charlotte-scale-trend")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all_queries()

    dirs = {s: _build_scaled(spark, s) for s in SCALES}
    # warm code/codegen caches so the smallest scale point isn't
    # polluted by first-run compilation (the r11 plan-compile lesson)
    for q in QUERIES:
        reg[q].fn(spark, dirs[SCALES[0]]).collect()
    from charlotte_spark.operators.prefix import release_prefix_caches

    times: dict[str, dict[int, float]] = {q: {} for q in QUERIES}
    for s in SCALES:
        for q in QUERIES:
            fn = reg[q].fn
            best = math.inf
            for _ in range(runs_per_point):
                # isolate each timing from the previous query's cached
                # blocks (prefix DISK_ONLY caches, checkpoint shards) —
                # cross-query cache eviction/GC skews single points by
                # 10-30x otherwise (observed on the first run)
                release_prefix_caches()
                spark.catalog.clearCache()
                t0 = time.time()
                fn(spark, dirs[s]).collect()
                best = min(best, time.time() - t0)
            times[q][s] = round(best, 3)

    report = {"metric": "scale_trend", "base": BASE_SF, "scales": list(SCALES),
              "runs_per_point": runs_per_point, "queries": {}}
    worst = 0.0
    for q in QUERIES:
        ts = [times[q][s] for s in SCALES]
        exp = round(_fit_exponent(list(SCALES), ts), 3)
        worst = max(worst, exp)
        report["queries"][q] = {"sec": dict(zip(map(str, SCALES), ts)),
                                "exponent": exp}
    report["max_exponent"] = round(worst, 3)
    report["bound"] = MAX_EXPONENT
    assert worst <= MAX_EXPONENT, f"super-linear shape: {report['queries']}"
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    return report


if __name__ == "__main__":
    print(json.dumps(run(int(sys.argv[1]) if len(sys.argv) > 1 else 2)))
