"""Measured BATCH-size scaling for the arrival-loop composites.

VERDICT r12 #4: the eight shapes in tools/scale_trend.py are
single-pass operators; the expensive tail (d181/d184/d187/d200/d215)
is fixed-stage floored at sf0.1, so their scaling story was unmeasured.
This tool measures the DECISION PATH of one arrival round — the part
whose cost recurs per batch forever — for the two loop families:

- d181 (LSH text dedup): batch signatures + banded index probe +
  within-batch keep-first pass, against a FIXED persisted signature
  index. Index compaction (an O(index) merge-write per round,
  amortizable with generational layouts) is deliberately excluded — it
  does not depend on batch size and would flatten the fit.
- d215 (IVF semantic dedup): batch cell assignment + cell-keyed index
  probe + within-batch pass + the bounded cross-cell miss sample,
  against a FIXED persisted keeps index.

Two axes per family:
1. BATCH scaling: batch at 4x/16x/64x of sf0.1 vs a fixed 1x index —
   expected exponent ~1.0 (per-arrival work is constant).
2. INDEX scaling (the invariance check): fixed 4x batch vs an index at
   1x/4x/16x. For d215 the scaled index scales K (the IVF cell count)
   with it, holding per-cell density constant — the actual design rule
   at 100 TB (K ~ N/density), so the expected exponent is ~0 up to the
   hash-build term. For d181 the banded index grows the bucket COUNT,
   not the bucket density (replicas have disjoint shingle sets), so
   candidates stay O(batch) and the remaining index-size term is the
   hash-table build over the probed generation — sub-linear wall time,
   far from the ~2.0 an all-pairs degeneration would show.

Replication is id-remapped and structure-perturbed exactly like
tools/scale_trend.py: documents get a per-replica suffix on EVERY
token (disjoint shingles across replicas); embeddings get a per-replica
cyclic rotation of the vector (rotations of dense random vectors are
~orthogonal, so replicas never cross-match at tau=0.9999 while each
replica keeps the original in-replica structure).

Usage: python tools/scale_arrival.py [runs_per_point]
Writes one JSON line; merged into SCALE_TREND_r13.json by the round
workflow.
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

from charlotte_spark.catalog import load_table  # noqa: E402
from charlotte_spark.functions.vectors import to_double  # noqa: E402
from charlotte_spark.queries.dedup import _lsh_match_ids, _minhash_sig  # noqa: E402
from charlotte_spark.queries.similarity import (  # noqa: E402
    _assign_cells,
    _d215_index_probe,
    _d215_miss_stats,
)
from charlotte_spark.session import get_spark  # noqa: E402
from charlotte_spark.operators.loopstate import scratch_dir  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
BATCH_SCALES = (4, 16, 64)
INDEX_SCALES = (1, 4, 16)
FIXED_BATCH = 4
DIM = 64
K_PER_INDEX_SCALE = 8  # d215: cells per 1x of index (density held constant)
BATCH_EXP_BOUND = 1.35   # same wobble band as scale_trend.py
INDEX_EXP_BOUND = 1.0    # sub-linear: probe must not degenerate to all-pairs


def _docs_replicated(spark, scale: int, tag: str, extra: tuple = ()):
    df = spark.read.parquet(f"{BASE_SF}/documents.parquet").select(
        "doc_id", "text", *extra
    )
    parts = []
    for k in range(scale):
        parts.append(
            df.select(
                (F.col("doc_id") + (k + 1) * 10_000_000).alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda x: F.concat(x, F.lit(f"_{tag}{k}")),
                    ),
                    " ",
                ).alias("text"),
                *extra,
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _emb_replicated(spark, scale: int, id_off: int):
    emb = spark.read.parquet(f"{BASE_SF}/embeddings.parquet").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    parts = []
    for k in range(scale):
        rot = k % DIM
        if rot == 0:
            v = F.col("v")
        else:
            v = F.concat(
                F.slice("v", rot + 1, DIM - rot), F.slice("v", 1, rot)
            )
        parts.append(
            emb.select(
                (F.col("vec_id") + (k + 1) * id_off).alias("vec_id"),
                v.alias("v"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _fit(xs, ys) -> float:
    lx = [math.log(x) for x in xs]
    ly = [math.log(y) for y in ys]
    n = len(lx)
    mx, my = sum(lx) / n, sum(ly) / n
    return sum((a - mx) * (b - my) for a, b in zip(lx, ly)) / sum(
        (a - mx) ** 2 for a in lx
    )


def _time_best(fn, runs: int, spark) -> float:
    best = math.inf
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def _d181_round(spark, batch_path: str, index_path: str) -> None:
    """One d181 decision round: batch signatures, banded probe of the
    persisted index, within-batch keep-first pass, status fold."""
    batch = spark.read.parquet(batch_path)
    idx_sig = spark.read.parquet(index_path)
    sig_b = _minhash_sig(batch)
    drop_idx = _lsh_match_ids(sig_b, idx_sig)
    drop_same = _lsh_match_ids(sig_b, sig_b, same_batch=True)
    status = (
        batch.select("doc_id")
        .join(drop_idx.withColumn("_di", F.lit(1)), "doc_id", "left")
        .join(
            drop_same.withColumnRenamed("doc_id", "doc_id")
            .withColumn("_db", F.lit(1))
            .select("doc_id", "_db"),
            "doc_id",
            "left",
        )
        .select(
            F.when(F.col("_di").isNotNull(), F.lit("dropped_index"))
            .when(F.col("_db").isNotNull(), F.lit("dropped_batch"))
            .otherwise(F.lit("accepted"))
            .alias("status")
        )
    )
    status.groupBy("status").count().write.format("noop").mode(
        "overwrite"
    ).save()


def _d215_round(spark, batch_path: str, index_path: str, cents_path: str) -> None:
    """One d215 decision round: cell assignment, the shipped cell-keyed
    index probe (`_d215_index_probe`), and the bounded cross-cell miss
    sample. The within-batch pass is EXCLUDED by design: it is
    documented O(per-cell batch^2) and bounded by the arrival rate, not
    by corpus/index scale — replicating the batch 64x would measure
    that construction artifact, not the recurring per-arrival cost."""
    batch = spark.read.parquet(batch_path)
    idx = spark.read.parquet(index_path)
    cents = spark.read.parquet(cents_path)
    assigned = _assign_cells(batch, cents)
    di = _d215_index_probe(assigned, idx)
    status = assigned.join(di, "vec_id", "left").select(
        "vec_id",
        F.when(F.col("_ik").isNotNull(), F.lit("dup_index"))
        .otherwise(F.lit("kept"))
        .alias("status"),
    )
    miss = _d215_miss_stats(assigned, status, idx)
    status.groupBy("status").count().unionByName(
        miss.select(
            F.lit("missed_twin").alias("status"),
            F.col("n_missed_twin").alias("count"),
        )
        .groupBy("status")
        .agg(F.sum("count").alias("count"))
    ).write.format("noop").mode("overwrite").save()


def run(runs_per_point: int = 2) -> dict:
    spark = get_spark("charlotte-scale-arrival")
    spark.sparkContext.setLogLevel("ERROR")
    root = scratch_dir("arrival")
    os.makedirs(root)

    report: dict = {
        "metric": "scale_trend_arrival",
        "base": BASE_SF,
        "batch_scales": list(BATCH_SCALES),
        "index_scales": list(INDEX_SCALES),
        "fixed_batch_for_index_axis": FIXED_BATCH,
        "runs_per_point": runs_per_point,
        "queries": {},
    }

    # ---------------- d181: LSH text-dedup arrival round ----------------
    docs = spark.read.parquet(f"{BASE_SF}/documents.parquet").select(
        "doc_id", "text"
    )
    # fixed 1x index = signatures of the curated corpus
    _minhash_sig(docs).write.mode("overwrite").parquet(f"{root}/d181_idx_x1")
    for s in INDEX_SCALES[1:]:
        # index replicas use an 'i' token suffix so they stay disjoint
        # from batch replicas ('b' suffix) — index growth adds BUCKETS,
        # not bucket density
        _minhash_sig(
            docs.select("doc_id", "text").unionByName(
                _docs_replicated(spark, s - 1, "i")
            )
        ).write.mode("overwrite").parquet(f"{root}/d181_idx_x{s}")
    for s in BATCH_SCALES:
        _docs_replicated(spark, s, "b").write.mode("overwrite").parquet(
            f"{root}/d181_batch_x{s}"
        )
    _docs_replicated(spark, FIXED_BATCH, "b").write.mode("overwrite").parquet(
        f"{root}/d181_batch_fixed"
    )

    # warm codegen on the smallest point
    _d181_round(spark, f"{root}/d181_batch_x{BATCH_SCALES[0]}", f"{root}/d181_idx_x1")
    batch_sec = {}
    for s in BATCH_SCALES:
        batch_sec[str(s)] = _time_best(
            lambda s=s: _d181_round(
                spark, f"{root}/d181_batch_x{s}", f"{root}/d181_idx_x1"
            ),
            runs_per_point,
            spark,
        )
    index_sec = {}
    for s in INDEX_SCALES:
        index_sec[str(s)] = _time_best(
            lambda s=s: _d181_round(
                spark, f"{root}/d181_batch_fixed", f"{root}/d181_idx_x{s}"
            ),
            runs_per_point,
            spark,
        )
    report["queries"]["d181_lsh_arrival_loop"] = {
        "round": "batch signatures + banded index probe + within-batch pass",
        "batch_sec": batch_sec,
        "batch_exponent": round(
            _fit(list(BATCH_SCALES), [batch_sec[str(s)] for s in BATCH_SCALES]), 3
        ),
        "index_sec": index_sec,
        "index_exponent": round(
            _fit(list(INDEX_SCALES), [index_sec[str(s)] for s in INDEX_SCALES]), 3
        ),
    }

    # ---------------- d215: IVF semantic-dedup arrival round ------------
    emb = load_table(spark, BASE_SF, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    n_base = emb.count()
    for s in INDEX_SCALES:
        k = K_PER_INDEX_SCALE * s
        # centroids: k rotated seeds (rotation spreads them like the
        # index replicas, so per-cell density stays ~constant)
        idx_src = (
            emb if s == 1 else emb.unionByName(
                _emb_replicated(spark, s - 1, 100_000_000)
            )
        )
        cents = (
            idx_src.orderBy("vec_id")
            .limit(k)
            .select(
                F.row_number()
                .over(__import__("pyspark").sql.Window.orderBy("vec_id"))
                .cast("long")
                .alias("cell"),
                F.col("v").alias("cv"),
            )
        )
        cents.write.mode("overwrite").parquet(f"{root}/d215_cents_x{s}")
        _assign_cells(
            idx_src, spark.read.parquet(f"{root}/d215_cents_x{s}")
        ).write.mode("overwrite").parquet(f"{root}/d215_idx_x{s}")
    for s in BATCH_SCALES:
        _emb_replicated(spark, s, 1_000_000_000).write.mode(
            "overwrite"
        ).parquet(f"{root}/d215_batch_x{s}")
    _emb_replicated(spark, FIXED_BATCH, 1_000_000_000).write.mode(
        "overwrite"
    ).parquet(f"{root}/d215_batch_fixed")

    _d215_round(
        spark,
        f"{root}/d215_batch_x{BATCH_SCALES[0]}",
        f"{root}/d215_idx_x1",
        f"{root}/d215_cents_x1",
    )
    batch_sec = {}
    for s in BATCH_SCALES:
        batch_sec[str(s)] = _time_best(
            lambda s=s: _d215_round(
                spark,
                f"{root}/d215_batch_x{s}",
                f"{root}/d215_idx_x1",
                f"{root}/d215_cents_x1",
            ),
            runs_per_point,
            spark,
        )
    index_sec = {}
    for s in INDEX_SCALES:
        index_sec[str(s)] = _time_best(
            lambda s=s: _d215_round(
                spark,
                f"{root}/d215_batch_fixed",
                f"{root}/d215_idx_x{s}",
                f"{root}/d215_cents_x{s}",
            ),
            runs_per_point,
            spark,
        )
    report["queries"]["d215_semantic_dedup_arrival"] = {
        "round": "cell assignment + cell-keyed index probe + bounded"
                 " miss sample (within-batch pass excluded: documented"
                 " O(per-cell batch^2), arrival-rate-bounded)",
        "k_per_index_scale": K_PER_INDEX_SCALE,
        "index_rows_x1": n_base,
        "batch_sec": batch_sec,
        "batch_exponent": round(
            _fit(list(BATCH_SCALES), [batch_sec[str(s)] for s in BATCH_SCALES]), 3
        ),
        "index_sec": index_sec,
        "index_exponent": round(
            _fit(list(INDEX_SCALES), [index_sec[str(s)] for s in INDEX_SCALES]), 3
        ),
    }

    # ---------------- d187: curation-DAG arrival round -------------------
    # (VERDICT r13 #6). Decision path = _d187_flags: quality (pure) +
    # ONE h-keyed index join + within-batch h-keyed window + prefix
    # contamination join. Index merge-write excluded (compaction, same
    # rationale as d181).
    from charlotte_spark.queries.traindata import _d187_flags  # noqa: E402

    docs_l = spark.read.parquet(f"{BASE_SF}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    eval_pfx = (
        docs_l.filter(F.col("doc_id") % 97 == 0)
        .select(
            F.md5(F.array_join(F.slice(F.split("text", " "), 1, 8), " ")).alias(
                "pfx8"
            )
        )
        .distinct()
    )
    eval_pfx.write.mode("overwrite").parquet(f"{root}/d187_pfx")

    def _d187_index(src):
        return src.select(F.md5("text").alias("h")).distinct()

    _d187_index(docs_l).write.mode("overwrite").parquet(f"{root}/d187_idx_x1")
    for s in INDEX_SCALES[1:]:
        _d187_index(
            docs_l.select("doc_id", "text").unionByName(
                _docs_replicated(spark, s - 1, "i")
            )
        ).write.mode("overwrite").parquet(f"{root}/d187_idx_x{s}")
    for s in BATCH_SCALES:
        _docs_replicated(spark, s, "b", extra=("lang",)).withColumn(
            "round_id", F.lit(1)
        ).write.mode("overwrite").parquet(f"{root}/d187_batch_x{s}")
    _docs_replicated(spark, FIXED_BATCH, "b", extra=("lang",)).withColumn(
        "round_id", F.lit(1)
    ).write.mode("overwrite").parquet(f"{root}/d187_batch_fixed")

    def _d187_round(batch_path: str, index_path: str) -> None:
        batch = spark.read.parquet(batch_path)
        idx = spark.read.parquet(index_path)
        pfx = spark.read.parquet(f"{root}/d187_pfx")
        _d187_flags(batch, idx, pfx).groupBy("status").count().write.format(
            "noop"
        ).mode("overwrite").save()

    _d187_round(f"{root}/d187_batch_x{BATCH_SCALES[0]}", f"{root}/d187_idx_x1")
    batch_sec = {}
    for s in BATCH_SCALES:
        batch_sec[str(s)] = _time_best(
            lambda s=s: _d187_round(
                f"{root}/d187_batch_x{s}", f"{root}/d187_idx_x1"
            ),
            runs_per_point,
            spark,
        )
    index_sec = {}
    for s in INDEX_SCALES:
        index_sec[str(s)] = _time_best(
            lambda s=s: _d187_round(
                f"{root}/d187_batch_fixed", f"{root}/d187_idx_x{s}"
            ),
            runs_per_point,
            spark,
        )
    report["queries"]["d187_curation_arrival_loop"] = {
        "round": "quality flags + h-keyed index join + within-batch"
                 " keep-first window + contamination prefix join"
                 " (index merge-write excluded: compaction)",
        "batch_sec": batch_sec,
        "batch_exponent": round(
            _fit(list(BATCH_SCALES), [batch_sec[str(s)] for s in BATCH_SCALES]), 3
        ),
        "index_sec": index_sec,
        "index_exponent": round(
            _fit(list(INDEX_SCALES), [index_sec[str(s)] for s in INDEX_SCALES]), 3
        ),
    }

    # ---------------- d200: CDC chunk-index arrival round ----------------
    # Decision path = CDC-chunk the batch + h-keyed semi/anti probe of
    # the persisted chunk index. Append merge-write excluded.
    from charlotte_spark.queries.textstats import with_cdc_chunks  # noqa: E402

    docs_t = (
        spark.read.parquet(f"{BASE_SF}/documents.parquet")
        .filter(F.size(F.split("text", " ")) >= 5)
        .select("doc_id", F.split("text", " ").alias("t"))
    )

    def _d200_chunks(src):
        return (
            with_cdc_chunks(src, "t", "hs", distinct=False)
            .select(F.explode("hs").alias("h"))
            .distinct()
        )

    _d200_chunks(docs_t).write.mode("overwrite").parquet(f"{root}/d200_idx_x1")
    for s in INDEX_SCALES[1:]:
        _d200_chunks(
            docs_t.unionByName(
                _docs_replicated(spark, s - 1, "i").select(
                    "doc_id", F.split("text", " ").alias("t")
                )
            )
        ).write.mode("overwrite").parquet(f"{root}/d200_idx_x{s}")
    for s in BATCH_SCALES:
        _docs_replicated(spark, s, "b").select(
            "doc_id", F.split("text", " ").alias("t")
        ).write.mode("overwrite").parquet(f"{root}/d200_batch_x{s}")
    _docs_replicated(spark, FIXED_BATCH, "b").select(
        "doc_id", F.split("text", " ").alias("t")
    ).write.mode("overwrite").parquet(f"{root}/d200_batch_fixed")

    def _d200_round(batch_path: str, index_path: str) -> None:
        batch = spark.read.parquet(batch_path)
        idx = spark.read.parquet(index_path)
        dd = _d200_chunks(batch)
        dd.join(idx, "h", "left_semi").groupBy().count().unionByName(
            dd.join(idx, "h", "left_anti").groupBy().count()
        ).write.format("noop").mode("overwrite").save()

    _d200_round(f"{root}/d200_batch_x{BATCH_SCALES[0]}", f"{root}/d200_idx_x1")
    batch_sec = {}
    for s in BATCH_SCALES:
        batch_sec[str(s)] = _time_best(
            lambda s=s: _d200_round(
                f"{root}/d200_batch_x{s}", f"{root}/d200_idx_x1"
            ),
            runs_per_point,
            spark,
        )
    index_sec = {}
    for s in INDEX_SCALES:
        index_sec[str(s)] = _time_best(
            lambda s=s: _d200_round(
                f"{root}/d200_batch_fixed", f"{root}/d200_idx_x{s}"
            ),
            runs_per_point,
            spark,
        )
    report["queries"]["d200_chunk_index_loop"] = {
        "round": "CDC-chunk batch + h-keyed semi/anti index probe"
                 " (append merge-write excluded: compaction)",
        "batch_sec": batch_sec,
        "batch_exponent": round(
            _fit(list(BATCH_SCALES), [batch_sec[str(s)] for s in BATCH_SCALES]), 3
        ),
        "index_sec": index_sec,
        "index_exponent": round(
            _fit(list(INDEX_SCALES), [index_sec[str(s)] for s in INDEX_SCALES]), 3
        ),
    }

    worst_b = max(q["batch_exponent"] for q in report["queries"].values())
    worst_i = max(q["index_exponent"] for q in report["queries"].values())
    report["max_batch_exponent"] = worst_b
    report["max_index_exponent"] = worst_i
    report["batch_bound"] = BATCH_EXP_BOUND
    report["index_bound"] = INDEX_EXP_BOUND
    assert worst_b <= BATCH_EXP_BOUND, f"super-linear batch axis: {report}"
    assert worst_i <= INDEX_EXP_BOUND, f"index axis not sub-linear: {report}"
    shutil.rmtree(root, ignore_errors=True)
    return report


if __name__ == "__main__":
    print(json.dumps(run(int(sys.argv[1]) if len(sys.argv) > 1 else 2)))
