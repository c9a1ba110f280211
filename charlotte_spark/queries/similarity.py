"""Similarity search over embeddings (SURVEY §2.2 D67/D68 + ANN mandate).

Three tiers, mirroring how a 100 TB deployment scales up:
- brute force (d67/d68): exact, crossJoin-pruned — the correctness
  baseline and fine when probes are few;
- IVF-style bucketing (d68_ivf): restrict the search to the probe's
  coarse partition (here the ``label`` column stands in for a k-means
  centroid assignment) — turns the |probes| x |corpus| join into
  |probes| x |bucket|;
- sign-LSH (a68_lsh): 8 deterministic hyperplanes derived from the
  portable hash give a 256-bucket blocking key; candidates share the
  probe's bucket. Fixed seeds → the whole thing is hash-checkable.

Embedding near-dup detection (the dedup use-case over vectors) is
d67_embedding_neardup: synthesized exact copies found via label-blocked
cosine ≥ 0.9999.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import fan_out, load_table
from ..functions.portable import (
    portable_hash_long,
    pround,
    sql_hash_long,
    sql_round,
)
from ..functions.digest import sql_two_level_digest, two_level_digest
from ..functions.vectors import (
    cosine,
    dot,
    l2norm,
    sql_cosine,
    sql_sqdist,
    sqdist,
    to_double,
)
from ..operators.loopstate import LoopState
from ..registry import query

DIM = 64
N_PLANES = 8


def _emb(spark, sf_dir, prefix: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias(f"{prefix}_id"),
        to_double(F.col("embedding")).alias(f"{prefix}_v"),
        F.col("label").alias(f"{prefix}_label"),
    )


@query(
    "d67_cosine_pairwise",
    tags=("D67",),
    oracle=f"""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           {sql_round(sql_cosine("a.embedding", "b.embedding"), 4)} AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 20 AND b.vec_id < 20
    ORDER BY a_id, b_id
    """,
)
def d67_cosine_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded pairwise cosine (all pairs among the first 20 vectors)."""
    a = _emb(spark, sf_dir, "a").filter(F.col("a_id") < 20)
    b = _emb(spark, sf_dir, "b").filter(F.col("b_id") < 20)
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            pround(cosine(F.col("a_v"), F.col("b_v")), 4).alias("cos_sim"),
        )
        .orderBy("a_id", "b_id")
    )


@query(
    "d68_topk_bruteforce",
    tags=("D68",),
    oracle=f"""
    WITH scored AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               {sql_cosine("p.embedding", "c.embedding")} AS cs
        FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
        WHERE p.vec_id < 10
    )
    SELECT probe_id, neighbor_id, {sql_round("cs", 4)} AS cos_sim, rk FROM (
        SELECT probe_id, neighbor_id, cs,
               row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rk
        FROM scored
    ) WHERE rk <= 5
    ORDER BY probe_id, rk
    """,
)
def d68_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 10 probes (the ANN baseline).
    Corpus side stays partitioned; probe side broadcasts."""
    p = _emb(spark, sf_dir, "probe").filter(F.col("probe_id") < 10)
    # |corpus| × |probes| cosine folds — spread the single-split scan
    c = fan_out(_emb(spark, sf_dir, "neighbor"))
    w = W.partitionBy("probe_id").orderBy(F.col("cs").desc(), F.col("neighbor_id").asc())
    return (
        c.join(F.broadcast(p), F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            cosine(F.col("probe_v"), F.col("neighbor_v")).alias("cs"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("probe_id", "neighbor_id", pround("cs", 4).alias("cos_sim"), "rk")
        .orderBy("probe_id", "rk")
    )


@query(
    "d68_ivf_topk",
    tags=("D68",),
    oracle=f"""
    WITH scored AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, c.label,
               {sql_cosine("p.embedding", "c.embedding")} AS cs
        FROM embeddings p
        JOIN embeddings c ON c.label = p.label AND c.vec_id <> p.vec_id
        WHERE p.vec_id < 10
    )
    SELECT probe_id, neighbor_id, label, {sql_round("cs", 4)} AS cos_sim, rk FROM (
        SELECT probe_id, neighbor_id, label, cs,
               row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rk
        FROM scored
    ) WHERE rk <= 3
    ORDER BY probe_id, rk
    """,
)
def d68_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: search only the probe's coarse partition (label ≡
    centroid assignment) — the |corpus| side is partition-pruned, which
    is the property that matters at 100 TB."""
    p = _emb(spark, sf_dir, "probe").filter(F.col("probe_id") < 10)
    c = _emb(spark, sf_dir, "neighbor")
    w = W.partitionBy("probe_id").orderBy(F.col("cs").desc(), F.col("neighbor_id").asc())
    return (
        c.join(
            F.broadcast(p),
            (F.col("neighbor_label") == F.col("probe_label"))
            & (F.col("neighbor_id") != F.col("probe_id")),
        )
        .select(
            "probe_id",
            "neighbor_id",
            F.col("neighbor_label").alias("label"),
            cosine(F.col("probe_v"), F.col("neighbor_v")).alias("cs"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("probe_id", "neighbor_id", "label", pround("cs", 4).alias("cos_sim"), "rk")
        .orderBy("probe_id", "rk")
    )


def _sql_lsh_bucket(vec: str) -> str:
    """256-value sign-LSH bucket from 8 md5-derived hyperplanes."""
    bits = []
    for s in range(N_PLANES):
        proj = (
            f"list_reduce(list_transform(generate_series(1, {DIM}), "
            f"i -> CAST({vec}[i] AS DOUBLE) * "
            f"(CAST(CAST('0x' || substring(md5('hp{s}|' || CAST(i AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS DOUBLE) * 2 - 1)"
            f"), (x, y) -> x + y)"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN {1 << s} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _plane_signs() -> "list[list[float]]":
    """±1 sign matrix for the 8 hyperplanes — a pure constant of
    (plane, dim), same md5 derivation the oracle SQL spells out."""
    import hashlib

    return [
        [
            float((int(hashlib.md5(f"hp{s}|{i}".encode()).hexdigest()[:8], 16) % 2) * 2 - 1)
            for i in range(1, DIM + 1)
        ]
        for s in range(N_PLANES)
    ]


def _with_lsh_bucket(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Sign-LSH bucket via one Arrow-batched matmul: V @ signs.T → 8
    projections per row → 8-bit bucket. The sign matrix is precomputed
    driver-side (it's constant), so the per-row work is a 64×8 BLAS
    matmul instead of 512 interpreted md5 calls — the shape that holds
    when bucketing 10^9 vectors."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    signs = np.array(_plane_signs(), dtype=np.float64)  # (planes, dim)
    weights = np.array([1 << s for s in range(N_PLANES)], dtype=np.int64)

    @pandas_udf("int")
    def bucket_of(vecs: pd.Series) -> pd.Series:
        v = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        proj = v @ signs.T  # (n, planes)
        return pd.Series(((proj > 0) @ weights).astype(np.int32))

    return df.withColumn(out_col, bucket_of(F.col(vec_col)))


@query(
    "a68_lsh_ann_topk",
    tags=("D68", "A66"),
    oracle=f"""
    WITH bucketed AS (
        SELECT vec_id, embedding, {_sql_lsh_bucket("embedding")} AS bucket
        FROM embeddings
    ),
    scored AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, p.bucket,
               {sql_cosine("p.embedding", "c.embedding")} AS cs
        FROM bucketed p
        JOIN bucketed c ON c.bucket = p.bucket AND c.vec_id <> p.vec_id
        WHERE p.vec_id < 10
    )
    SELECT probe_id, neighbor_id, bucket, {sql_round("cs", 4)} AS cos_sim, rk FROM (
        SELECT probe_id, neighbor_id, bucket, cs,
               row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rk
        FROM scored
    ) WHERE rk <= 3
    ORDER BY probe_id, rk
    """,
)
def a68_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN: deterministic hyperplanes (portable hash of
    (plane, dim) → ±1), 8-bit bucket, candidates restricted to the
    probe's bucket, then exact cosine top-3 within candidates. This is
    the blocking-key shape that scales: bucketing is a projection, the
    join shuffles on (bucket), never all-pairs."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    bucketed = _with_lsh_bucket(e, "v", "bucket")
    p = bucketed.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("probe_v"),
        F.col("bucket").alias("probe_bucket"),
    )
    c = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("neighbor_v"),
        F.col("bucket").alias("neighbor_bucket"),
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cs").desc(), F.col("neighbor_id").asc())
    return (
        c.join(
            F.broadcast(p),
            (F.col("neighbor_bucket") == F.col("probe_bucket"))
            & (F.col("neighbor_id") != F.col("probe_id")),
        )
        .select(
            "probe_id",
            "neighbor_id",
            F.col("probe_bucket").alias("bucket"),
            cosine(F.col("probe_v"), F.col("neighbor_v")).alias("cs"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("probe_id", "neighbor_id", "bucket", pround("cs", 4).alias("cos_sim"), "rk")
        .orderBy("probe_id", "rk")
    )


@query(
    "d67_embedding_neardup",
    tags=("D67", "A66"),
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, embedding, label FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, embedding, label FROM embeddings WHERE vec_id % 50 = 0
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           {sql_round(sql_cosine("a.embedding", "b.embedding"), 4)} AS cos_sim
    FROM corpus a JOIN corpus b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {sql_cosine("a.embedding", "b.embedding")} >= 0.9999
    ORDER BY a_id, b_id
    """,
)
def d67_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: synthesized exact copies (every 50th
    vector) recovered via label-blocked cosine ≥ 0.9999.

    The O(block²) pair stage runs as one BLAS Gram matrix per label
    block inside `applyInPandas` (Arrow batch in, numpy float64 matmul)
    instead of a per-pair 64-element Catalyst fold — the fold is
    interpreted per element, ~20× slower at 200k pairs. The pair set is
    insensitive to summation order here because near-dups sit at cos≈1.0,
    far from the 0.9999 cut. At 100 TB the same shape holds: blocks are
    shuffled to executors by label (or an LSH pre-bucket when blocks
    outgrow memory) and each block is a chunked local matmul."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.unionByName(
        e.filter(F.col("vec_id") % 50 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
        )
    ).select("vec_id", "embedding", "label")

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame({"a_id": ids[:0], "b_id": ids[:0],
                                 "cos_sim": np.empty(0, dtype=np.float64)})
        v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        vn = v / np.linalg.norm(v, axis=1, keepdims=True)
        gram = vn @ vn.T
        iu, ju = np.triu_indices(len(ids), k=1)
        cs = gram[iu, ju]
        keep = cs >= 0.9999
        return pd.DataFrame({
            "a_id": ids[iu[keep]],
            "b_id": ids[ju[keep]],
            "cos_sim": np.floor(cs[keep] * 1e4 + 0.5) / 1e4,
        })

    return (
        corpus.groupBy("label")
        .applyInPandas(block_pairs, "a_id long, b_id long, cos_sim double")
        .orderBy("a_id", "b_id")
    )


@query(
    "d75_embedding_quantize",
    tags=("D75", "D67"),
    oracle=f"""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, vd,
               list_max(list_transform(vd, x -> abs(x))) / 127.0 AS scale
        FROM v
    ),
    q AS (
        SELECT vec_id, vd, scale,
               list_transform(vd, x -> CAST(floor(x / scale + 0.5) AS INT)) AS qv
        FROM s
    )
    SELECT vec_id,
           {sql_round("scale", 6)} AS scale,
           array_to_string(qv, ',') AS quantized,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(len(list_filter(qv, x -> abs(x) = 127)) AS INT) AS n_saturated,
           {sql_round(
               "list_max(list_transform(generate_series(1, " + str(DIM) + "), "
               "i -> abs(vd[i] - qv[i] * scale)))", 6)} AS max_abs_err
    FROM q
    ORDER BY vec_id
    """,
)
def d75_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per embedding — the standard memory
    path for vector search at 100 TB (4x smaller than float32, and int8
    dot products SIMD-accelerate downstream ANN). scale = max|x|/127;
    rounding is floor(x+0.5) in BOTH engines (engine-native round()
    half-even vs half-away would diverge), so the quantized vectors are
    hash-checkable, along with saturation count and max reconstruction
    error.

    Pure JVM higher-order functions over array columns: one narrow
    projection pass, no shuffle, no Python. The shared per-row scale is
    materialized as a column BEFORE the lambdas reference it (HOF lambda
    bodies re-evaluate outer expressions per element — the measured 8x
    pitfall recorded in SCALE.md)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("vd")
    )
    s = e.withColumn(
        "scale", F.array_max(F.transform("vd", lambda x: F.abs(x))) / F.lit(127.0)
    )
    q = s.withColumn(
        "qv",
        F.transform("vd", lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int")),
    )
    # Computed BEFORE the output select: the select aliases the rounded
    # scale back to the name "scale", and Spark's lateral column alias
    # resolution would rebind this lambda's scale reference to the
    # ROUNDED value (DuckDB prefers the input column — silent divergence
    # in the 3rd digit of the error).
    q = q.withColumn(
        "raw_err",
        F.array_max(
            F.zip_with(
                "vd", "qv", lambda x, qq: F.abs(x - qq.cast("double") * F.col("scale"))
            )
        ),
    )
    return q.select(
        "vec_id",
        pround("scale", 6).alias("scale"),
        # Joined to a string (positional order — no sort needed): a raw
        # array column is unhashable in the driver's pandas canonicalizer
        # (registry determinism rule; r03 driver ERR).
        F.array_join(F.transform("qv", lambda x: x.cast("string")), ",").alias("quantized"),
        F.aggregate("qv", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
        F.size(F.filter("qv", lambda x: F.abs(x) == 127)).alias("n_saturated"),
        pround("raw_err", 6).alias("max_abs_err"),
    ).orderBy("vec_id")


_KM_K = 4
_KM_ITERS = 3


def _km_oracle() -> str:
    """Generate the 3-iteration Lloyd's CTE chain: assignment by
    squared-distance argmin (dot(c,c) - 2*dot(a,c); the |a|^2 term is
    constant per vector), centroid update by per-dimension mean."""
    dv = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    sql = f"""
    WITH vecs AS (
        SELECT vec_id, {dv} AS v FROM embeddings
    ),
    cent0 AS (
        SELECT vec_id AS cid, v AS c FROM vecs WHERE vec_id < {_KM_K}
    )"""
    prev = "cent0"
    for it in range(1, _KM_ITERS + 1):
        sql += f""",
    scored{it} AS (
        SELECT vecs.vec_id, vecs.v, {prev}.cid,
               list_dot_product({prev}.c, {prev}.c) - 2 * list_dot_product(vecs.v, {prev}.c) AS d
        FROM vecs CROSS JOIN {prev}
    ),
    asg{it} AS (
        SELECT vec_id, v, cid FROM (
            SELECT vec_id, v, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
            FROM scored{it}
        ) WHERE rk = 1
    ),
    cent{it} AS (
        SELECT cid, list(m ORDER BY pos) AS c FROM (
            SELECT a.cid, t.i AS pos, avg(a.v[t.i]) AS m
            FROM asg{it} a, range(1, 65) t(i)
            GROUP BY a.cid, t.i
        ) GROUP BY cid
    )"""
        prev = f"cent{it}"
    sql += f"""
    SELECT a.cid AS cluster_id,
           count(*) AS n_members,
           {sql_round("any_value(sqrt(list_dot_product(c.c, c.c)))", 4)} AS centroid_norm
    FROM asg{_KM_ITERS} a JOIN cent{_KM_ITERS} c USING (cid)
    GROUP BY a.cid
    ORDER BY cluster_id
    """
    return sql


@query("d86_kmeans", tags=("D86", "D67"), oracle=_km_oracle())
def d86_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd's, k=4, 3 fixed iterations,
    deterministic init = the first k vectors) — the iterative-algorithm
    shape: per-iteration work is ONE narrow projection (distances to k
    broadcast-literal centroids, JVM higher-order folds) plus ONE
    shuffle (per-dimension mean via posexplode + groupBy), and only the
    k x 64 centroid matrix ever reaches the driver. The oracle replays
    the identical 3 iterations as a DuckDB CTE chain; both engines use
    the same sequential-fold dot products in DOUBLE so assignment
    argmins agree bit-for-bit at the synthetic clusters' margins.

    At 100 TB: the corpus stays partitioned and is re-scanned per
    iteration (persist() it on a real cluster); centroids are KBs
    regardless of corpus size, so driver traffic is O(k*dim*iters)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    emb = emb.persist()
    centroids = [
        (r["vec_id"], r["v"])
        for r in emb.filter(F.col("vec_id") < _KM_K).orderBy("vec_id").collect()
    ]

    def dot_lit(c: list[float]):
        arr = F.array(*[F.lit(float(x)) for x in c])
        return F.aggregate(
            F.zip_with("v", arr, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    asg = None
    for _ in range(_KM_ITERS):
        dists = [
            (cid, float(sum(x * x for x in c)), dot_lit(c)) for cid, c in centroids
        ]
        # argmin over k (dist, cid) structs — least() on structs orders
        # lexicographically, ties broken by cid exactly like the oracle
        best = F.least(
            *[
                F.struct((F.lit(cc) - 2.0 * d).alias("d"), F.lit(cid).alias("cid"))
                for cid, cc, d in dists
            ]
        )
        asg = emb.select("vec_id", "v", best.getField("cid").alias("cid"))
        new_cent = (
            asg.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.col("pm.m").alias("c"))
        )
        centroids = sorted(
            ((r["cid"], list(r["c"])) for r in new_cent.collect()), key=lambda t: t[0]
        )
    def round_half_up(x: float, n: int) -> float:
        scale = float(10**n)
        return math.floor(x * scale + 0.5) / scale

    norms = {cid: round_half_up(math.sqrt(sum(x * x for x in c)), 4) for cid, c in centroids}
    emb.unpersist()
    norm_col = F.create_map(
        *[F.lit(x) for cid in norms for x in (cid, norms[cid])]
    )
    return (
        asg.groupBy(F.col("cid").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .withColumn("centroid_norm", norm_col[F.col("cluster_id")])
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# D102: distributed PCA (top principal component via power iteration)
# ---------------------------------------------------------------------------

_PCA_ITERS = 3
_DIM = 64


def _pca_oracle() -> str:
    """3-iteration power-method CTE chain: s = X·w (list_dot_product —
    same sequential fold as Spark's aggregate/zip_with, the d86-proven
    parity), c = Xᵀs (per-dimension sum), w' = c/‖c‖ with the norm
    folded in list (pos) order to match the Python-side normalization."""
    sql = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    w0 AS (
        SELECT list_transform(range(1, {_DIM + 1}), i -> 1.0 / sqrt({_DIM}.0)) AS w
    )"""
    prev = "w0"
    for t in range(1, _PCA_ITERS + 1):
        sql += f""",
    s{t} AS (
        SELECT vec_id, v, list_dot_product(v, w) AS s FROM vecs, {prev}
    ),
    c{t} AS (
        SELECT t.i AS pos, sum(x.v[t.i] * x.s) AS c
        FROM s{t} x, range(1, {_DIM + 1}) t(i) GROUP BY t.i
    ),
    w{t} AS (
        SELECT list_transform(cl, x -> x / sqrt(list_dot_product(cl, cl))) AS w
        FROM (SELECT list(c ORDER BY pos) AS cl FROM c{t})
    )"""
        prev = f"w{t}"
    return (
        sql
        + f"""
    SELECT CAST(t.i - 1 AS INT) AS pos,
           {sql_round(f"w[t.i]", 6)} AS loading
    FROM {prev}, range(1, {_DIM + 1}) t(i)
    ORDER BY pos
    """
    )


def pca_iteration_plan(
    spark: SparkSession, sf_dir: str, w: "list[float] | None" = None
) -> DataFrame:
    """LAZY plan of ONE power iteration (c = Xᵀ(X·w) for a literal w) —
    split out so the per-iteration shape is auditable
    (tests/test_plans.py::test_pca_iteration_plan) even though the
    registered query materializes each round via a dim-length collect
    (the PLAN_AUDIT.md caveat: driver-loop queries tabulate only their
    final local plan)."""
    if w is None:
        w = [1.0 / math.sqrt(float(_DIM))] * _DIM
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    arr = F.array(*[F.lit(float(x)) for x in w])
    score = F.aggregate(
        F.zip_with("v", arr, lambda x, y: x * y), F.lit(0.0), lambda a, b: a + b
    )
    return (
        emb.select(score.alias("s"), F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum(F.col("x") * F.col("s")).alias("c"))
    )


@query("d102_pca_power", tags=("D102", "D86", "D75"), oracle=_pca_oracle())
def d102_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA: top principal component of the (uncentered)
    embedding Gram matrix by power iteration — the dimensionality-
    reduction primitive next to quantization (D75) and clustering
    (D86) in an embedding-pipeline toolbox.

    The covariance matrix is NEVER materialized: each iteration
    computes s = X·w as a per-row JVM fold against the broadcast
    literal w (zero shuffle), then c = Xᵀs as ONE posexplode shuffle
    onto dim keys — at 100 TB each round moves O(dim) aggregates, and
    only the dim-length vector reaches the driver per iteration (the
    same budget class as D86's centroids). Fixed 3 iterations from a
    deterministic uniform start keep the result — including the
    component's sign — bit-stable; the oracle replays the identical
    chain in DOUBLE."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # linear re-scans only (no downstream join planning) => persist,
    # per the SCALE.md checkpoint-vs-persist rule
    emb = emb.persist()
    w = [1.0 / math.sqrt(float(_DIM))] * _DIM
    for _ in range(_PCA_ITERS):
        arr = F.array(*[F.lit(float(x)) for x in w])
        score = F.aggregate(
            F.zip_with("v", arr, lambda x, y: x * y), F.lit(0.0), lambda a, b: a + b
        )
        comp = (
            emb.select(score.alias("s"), F.posexplode("v").alias("pos", "x"))
            .groupBy("pos")
            .agg(F.sum(F.col("x") * F.col("s")).alias("c"))
        )
        cmap = {r["pos"]: r["c"] for r in comp.collect()}
        c = [cmap[i] for i in range(_DIM)]
        nrm = math.sqrt(sum(x * x for x in c))
        w = [x / nrm for x in c]
    emb.unpersist()
    from ..session import local_df

    rows = [(i, w[i]) for i in range(_DIM)]
    return (
        local_df(spark, rows, "pos int, loading double")
        .select("pos", pround("loading", 6).alias("loading"))
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# D118: semantic dedup (SemDeDup-style keep-one within coarse clusters)
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.9999
_GRAM_TILE = 2048  # 2048^2 float64 = 32 MB peak per Gram tile


@query(
    "d118_semantic_dedup",
    tags=("D118", "D67", "A66"),
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, embedding, label FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, embedding, label FROM embeddings WHERE vec_id % 50 = 0
    ),
    pairs AS (
        SELECT b.vec_id AS dropped_id, b.label, a.vec_id AS nbr
        FROM corpus a JOIN corpus b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {sql_cosine("a.embedding", "b.embedding")} >= {_SEMDEDUP_TAU}
    )
    SELECT dropped_id, CAST(any_value(label) AS INT) AS label,
           CAST(min(nbr) AS BIGINT) AS kept_id
    FROM pairs GROUP BY dropped_id
    ORDER BY dropped_id
    """,
)
def d118_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): within each
    coarse cluster (the ``label`` column ≡ a k-means cell, the same
    stand-in as D68's IVF), drop every vector that has a LOWER-id
    neighbor at cosine ≥ 0.9999 and report which kept vector it
    collapses onto (the minimum such neighbor). Exact-copy rows are
    synthesized at vec_id + 1e6 for every 50th vector, so the expected
    dedup set is known by construction and the output is non-vacuous.

    This is D67's near-dup PAIR detection hardened into the keep-one
    DECISION operator a curation pipeline actually applies: keep-list =
    corpus minus dropped_ids. Same 100 TB shape as D67: blocks shuffle
    to executors by cluster id, each block runs a TILED BLAS Gram
    inside applyInPandas (never an all-pairs join across cells), and
    only per-row (dropped, kept) decisions leave the executor. The
    tiling is real, not aspirational: the Gram is computed in
    _GRAM_TILE x _GRAM_TILE blocks (peak temp = one 32 MB tile however
    large the cluster), column-tiles ascending so the FIRST hit per row
    IS the minimum-id neighbor and decided rows drop out of later
    tiles — an unboundedly large cluster degrades to more tile passes,
    never an O(n^2) allocation."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.unionByName(
        e.filter(F.col("vec_id") % 50 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
        )
    ).select("vec_id", "embedding", "label")

    def block_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame(
                {"dropped_id": ids[:0], "label": np.empty(0, dtype=np.int32),
                 "kept_id": ids[:0]}
            )
        lbl = np.int32(pdf["label"].iloc[0])
        v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        vn = v / np.linalg.norm(v, axis=1, keepdims=True)
        n = len(ids)
        # first[j] = index of the minimum-id neighbor with cos >= tau,
        # or -1. Tiled Gram: row-tiles x ascending column-tiles, so the
        # first tile that hits a row yields its minimal neighbor and
        # the row drops out of every later tile.
        first = np.full(n, -1, dtype=np.int64)
        for j0 in range(1, n, _GRAM_TILE):
            j1 = min(j0 + _GRAM_TILE, n)
            rows = np.arange(j0, j1)
            for i0 in range(0, j1, _GRAM_TILE):
                sel = rows[first[rows] < 0]
                if sel.size == 0:
                    break
                i1 = min(i0 + _GRAM_TILE, j1)
                g = vn[sel] @ vn[i0:i1].T
                cols = np.arange(i0, i1)
                valid = (g >= _SEMDEDUP_TAU) & (cols[None, :] < sel[:, None])
                hit = valid.any(axis=1)
                first[sel[hit]] = i0 + np.argmax(valid, axis=1)[hit]
        has_nbr = first >= 0
        return pd.DataFrame(
            {
                "dropped_id": ids[has_nbr],
                "label": np.full(int(has_nbr.sum()), lbl, dtype=np.int32),
                "kept_id": ids[first[has_nbr]],
            }
        )

    return (
        corpus.groupBy("label")
        .applyInPandas(block_dedup, "dropped_id long, label int, kept_id long")
        .orderBy("dropped_id")
    )


# ---------------------------------------------------------------------------
# D175: per-dimension embedding profile (feature-scaling statistics)
# ---------------------------------------------------------------------------

# A dimension is degenerate when its spread collapses — dead ReLU
# columns / constant features that waste index bits and distort cosine.
_DIM_STD_FLOOR = 0.05


@query(
    "d175_embedding_dim_profile",
    tags=("D175", "D75", "D93"),
    oracle=f"""
    WITH ex AS (
        SELECT unnest(embedding) AS val,
               unnest(range(1, len(embedding) + 1)) AS p
        FROM embeddings
    )
    SELECT CAST(p - 1 AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           {sql_round("avg(CAST(val AS DOUBLE))", 4)} AS mean,
           {sql_round("stddev_pop(CAST(val AS DOUBLE))", 4)} AS std,
           {sql_round("min(CAST(val AS DOUBLE))", 6)} AS vmin,
           {sql_round("max(CAST(val AS DOUBLE))", 6)} AS vmax,
           CAST(CASE WHEN stddev_pop(CAST(val AS DOUBLE)) < {_DIM_STD_FLOOR}
                THEN 1 ELSE 0 END AS INT) AS degenerate
    FROM ex GROUP BY p ORDER BY dim
    """,
)
def d175_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (mean / population stddev /
    range / degenerate flag) — the feature-scaling profile computed
    before whitening (D102's PCA input), int8 quantization (D75's
    scale factors), or index building (dead dimensions waste IVF/LSH
    bits). Flags dimensions whose spread collapses below {floor}.

    Plan shape: ONE posexplode of the vector column (O(rows × dim)
    stream, map-side) into a dim-keyed partial aggregate — dim keys
    (64 here, a few thousand at most in practice) mean the reduce side
    is trivially balanced and the result is O(dim) rows regardless of
    corpus size. The moments are single-pass mergeable aggregates
    (the D93 family) — no second scan, no driver loop."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(F.posexplode("embedding").alias("dim", "val")).select(
        "dim", F.col("val").cast("double").alias("val")
    )
    return (
        ex.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            pround(F.avg("val"), 4).alias("mean"),
            pround(F.stddev_pop("val"), 4).alias("std"),
            pround(F.min("val"), 6).alias("vmin"),
            pround(F.max("val"), 6).alias("vmax"),
            (F.stddev_pop("val") < _DIM_STD_FLOOR).cast("int").alias("degenerate"),
        )
        .orderBy("dim")
    )


d175_embedding_dim_profile.__doc__ = d175_embedding_dim_profile.__doc__.format(
    floor=_DIM_STD_FLOOR
)


# ---------------------------------------------------------------------------
# D178: per-label centroid dispersion (cluster cohesion audit)
# ---------------------------------------------------------------------------


@query(
    "d178_centroid_dispersion",
    tags=("D178", "D86", "D67"),
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, label,
               unnest(embedding) AS val,
               unnest(range(1, len(embedding) + 1)) AS dim
        FROM embeddings
    ),
    cent AS (
        SELECT label, dim, avg(CAST(val AS DOUBLE)) AS m
        FROM ex GROUP BY label, dim
    ),
    pv AS (
        SELECT e.vec_id, e.label,
               sum(CAST(e.val AS DOUBLE) * c.m) AS dot,
               sum(CAST(e.val AS DOUBLE) * CAST(e.val AS DOUBLE)) AS v2
        FROM ex e JOIN cent c ON c.label = e.label AND c.dim = e.dim
        GROUP BY e.vec_id, e.label
    ),
    cn AS (SELECT label, sum(m * m) AS c2 FROM cent GROUP BY label)
    SELECT pv.label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           {sql_round("avg(dot / (sqrt(v2) * sqrt(c2)))", 4)} AS mean_cos,
           {sql_round("min(dot / (sqrt(v2) * sqrt(c2)))", 4)} AS min_cos
    FROM pv JOIN cn USING (label)
    GROUP BY pv.label ORDER BY pv.label
    """,
)
def d178_centroid_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid cohesion: every vector's cosine to its
    label's mean vector, rolled up to mean/min per label — the cluster
    quality audit run after k-means (D86) or before trusting labels as
    SemDeDup blocks (D118): a low mean says the label is diffuse, a
    low min flags outliers/mislabels.

    Fully distributed — no vector ever reaches the driver and no array
    is materialized whole: vectors stay as an exploded (vec_id, label,
    dim, val) stream; centroids are a (label, dim)-keyed partial
    aggregate (O(labels × dim) rows — always broadcastable, hinted);
    the per-vector dot/norm fold is one keyed rejoin + groupBy on the
    vec id; centroid norms join back as an O(labels)-row broadcast.
    Contrast with D86, which broadcasts literal centroids from the
    driver: here the centroid TABLE is data, so the same shape scales
    to millions of labels."""
    from ..session import reliable_checkpoint

    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "val")
    ).select("vec_id", "label", "dim", F.col("val").cast("double").alias("val"))
    # Materialize the centroid table once: it feeds both the rejoin and
    # the norm fold, and an unmaterialized lineage would re-scan the
    # corpus per consumer (3 scans -> 2; the remaining two passes are
    # the aggregate build and the rejoin, which is the floor without
    # materializing the exploded corpus itself).
    cent = reliable_checkpoint(
        ex.groupBy("label", "dim").agg(F.avg("val").alias("m")).coalesce(8)
    )
    pv = (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("val") * F.col("m")).alias("dot"),
            F.sum(F.col("val") * F.col("val")).alias("v2"),
        )
    )
    cn = cent.groupBy("label").agg(F.sum(F.col("m") * F.col("m")).alias("c2"))
    cos = F.col("dot") / (F.sqrt("v2") * F.sqrt("c2"))
    return (
        pv.join(F.broadcast(cn), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            pround(F.avg(cos), 4).alias("mean_cos"),
            pround(F.min(cos), 4).alias("min_cos"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# D184: persisted IVF index with incremental arrival probes
# ---------------------------------------------------------------------------

_D184_K = 8  # construction-bounded centroid count (seed vec_id < 8)
# Recall-audit sampling modulus (VERDICT r10 #3): the exact-recall side
# is the ONLY O(batch x corpus) piece of the loop, so it runs on a
# deterministic hash-sampled probe subset — probe audited iff
# portable_hash(probe_id) % MOD == 0, the same A-row discipline as
# a83's in-query error bound (the output row carries recall_audited).
# The oracle samples identically, so the row stays hash-checked at any
# SF; recall_sample_mod=1 is the full-exact knob.
_D184_RECALL_MOD = 4
_D184_RECALL_SALT = "d184|recall|"


def _d184_oracle() -> str:
    """Same build-once / probe-incrementally chain in SQL CTEs (the
    d181 proof style): assignment, per-round in-cell top-3, exact
    top-3 over the index state at probe time, recall fold."""
    cos_ac = sql_cosine("a.v", "c.cv")
    cos_pg = sql_cosine("p.v", "g.v")

    def probe(arr: str, gen: str, cell_eq: bool) -> str:
        cond = "g.cell = p.cell" if cell_eq else "TRUE"
        return f"""(
        SELECT *,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY cs DESC, neighbor_id) AS rk,
               count(*) OVER (PARTITION BY probe_id) AS n_incell
        FROM (SELECT p.probe_id, g.vec_id AS neighbor_id, {cos_pg} AS cs
              FROM {arr} p JOIN {gen} g ON {cond})
    )"""

    audited = (
        f"({sql_hash_long('p.probe_id', _D184_RECALL_SALT)}"
        f" % {_D184_RECALL_MOD}) = 0"
    )

    def round_rows(r: int, arr: str, inc: str, ex: str) -> str:
        return f"""
        SELECT {r} AS round_id, p.probe_id, p.cell,
               coalesce(max(i.n_incell), 0) AS n_incell,
               max(CASE WHEN i.rk = 1 THEN i.neighbor_id END) AS top1_id,
               {sql_round("max(CASE WHEN i.rk = 1 THEN i.cs END)", 4)} AS top1_cos,
               CASE WHEN {audited}
                    THEN {sql_round("count(e.neighbor_id) / 3.0", 4)}
                    ELSE NULL END AS recall3,
               CAST({audited} AS INT) AS recall_audited
        FROM {arr} p
        LEFT JOIN (SELECT * FROM {inc} WHERE rk <= 3) i
               ON i.probe_id = p.probe_id
        LEFT JOIN (SELECT * FROM {ex} WHERE rk <= 3) e
               ON e.probe_id = i.probe_id AND e.neighbor_id = i.neighbor_id
        GROUP BY p.probe_id, p.cell"""

    return f"""
    WITH cents AS (
        SELECT vec_id AS cell, embedding AS cv FROM embeddings
        WHERE vec_id < {_D184_K}
    ),
    assign AS (
        SELECT vec_id, v, cell FROM (
            SELECT a.vec_id, a.v, c.cell,
                   row_number() OVER (PARTITION BY a.vec_id
                                      ORDER BY {cos_ac} DESC, c.cell) AS rn
            FROM (SELECT vec_id, embedding AS v FROM embeddings) a
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    p0 AS (SELECT vec_id, v, cell FROM assign WHERE vec_id % 4 <> 3),
    a1 AS (SELECT vec_id AS probe_id, v, cell FROM assign WHERE vec_id % 8 = 3),
    a2 AS (SELECT vec_id AS probe_id, v, cell FROM assign WHERE vec_id % 8 = 7),
    p1 AS (
        SELECT * FROM p0
        UNION ALL SELECT probe_id AS vec_id, v, cell FROM a1
    ),
    inc1 AS {probe("a1", "p0", True)},
    ex1 AS {probe("a1", "p0", False)},
    inc2 AS {probe("a2", "p1", True)},
    ex2 AS {probe("a2", "p1", False)}
    SELECT * FROM ({round_rows(1, "a1", "inc1", "ex1")})
    UNION ALL
    SELECT * FROM ({round_rows(2, "a2", "inc2", "ex2")})
    ORDER BY round_id, probe_id
    """


def _assign_cells(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: bounded crossJoin against the
    K-row centroid table (K fixed by construction — the one legitimate
    broadcast-NLJ in this family), argmax cosine with centroid-id
    tie-break."""
    w = W.partitionBy("vec_id").orderBy(F.col("cs").desc(), F.col("cell").asc())
    return (
        vectors.crossJoin(F.broadcast(centroids))
        .select(
            "vec_id", "v", "cell", cosine(F.col("v"), F.col("cv")).alias("cs")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "cell")
    )


def _probe_cells(probes: DataFrame, postings: DataFrame) -> DataFrame:
    """In-cell candidate scoring: an EQUI-join on the cell key — the
    probe touches one posting cell, never the whole index (pinned by
    test_ann_probe_touches_one_cell). Keeps top-3 per probe plus the
    pre-filter candidate count. LEFT join so a probe whose cell has no
    postings still yields one (NULL-neighbor, n_incell=0) row — the
    in-cell table doubles as the per-round assignment ledger."""
    w = W.partitionBy("probe_id")
    wr = w.orderBy(F.col("cs").desc_nulls_last(), F.col("neighbor_id").asc())
    return (
        probes.select(
            F.col("vec_id").alias("probe_id"), F.col("v").alias("pv"), "cell"
        )
        .join(postings, "cell", "left")
        .select(
            "probe_id",
            "cell",
            F.col("vec_id").alias("neighbor_id"),
            F.when(
                F.col("vec_id").isNotNull(), cosine(F.col("pv"), F.col("v"))
            ).alias("cs"),
        )
        .withColumn("n_incell", F.count("neighbor_id").over(w))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 3)
    )


@query("d184_ann_index_arrival", tags=("D184", "D68"), oracle=_d184_oracle())
def d184_ann_index_arrival(
    spark: SparkSession, sf_dir: str, recall_sample_mod: int = _D184_RECALL_MOD
) -> DataFrame:
    """Persisted ANN index with an incremental arrival path (VERDICT
    r09 #5) — the embedding analog of d181's LSH loop, the shape of
    continual embedding dedup/retrieval next to d118: d68_ivf rebuilds
    its coarse index per run; here the index is built ONCE and probed
    incrementally.

    Round 0 (build): K=8 seed centroids (vec_id < 8 — bounded by
    construction) and the base corpus's nearest-centroid posting table
    are written to parquet. Rounds 1-2 (arrivals): each batch assigns
    to its nearest centroid (bounded K-row crossJoin), probes ONLY its
    cell's postings (cell-keyed equi-join — never the whole index) for
    in-cell top-3 cosine neighbors, then APPENDS itself to a new
    posting generation — round-2 probes can match round-1 arrivals, so
    a correct answer requires the index to have grown.

    Recall audit (VERDICT r10 #3): per AUDITED probe, recall3 =
    |in-cell top-3 ∩ exact top-3|/3 where the exact side ranks over the
    FULL index state at probe time (the measure-don't-guess artifact:
    IVF trades recall for touching 1/K of the corpus; this query
    REPORTS the trade instead of assuming it). The exact side is the
    loop's only O(batch x corpus) piece, so it runs on a DETERMINISTIC
    hash-sampled probe subset — audited iff
    portable_hash(probe_id, salt) % recall_sample_mod == 0, default
    ``_D184_RECALL_MOD`` (=4, matching the oracle); every output row
    carries ``recall_audited`` and unaudited probes report recall3 =
    NULL (the a83 in-query-bound discipline — the artifact declares
    its own coverage). ``recall_sample_mod=1`` is the full-exact knob
    for offline audits. Assignments, in-cell results, and sampled
    exact top-3 are all persisted per round; the declared result is
    computed entirely from the persisted state (zero embeddings scans
    in the final plan).

    At 100 TB: posting cells are the shuffle/layout key (bucket the
    posting table by cell and arrival probes co-locate without a
    corpus shuffle); the exact-recall side touches |batch|/mod probes
    x corpus — the sampling bound is pinned by
    test_ann_recall_audit_is_sampled. Centroid refinement (re-running
    Lloyd steps) is deliberately out of scope: IVF index maintenance
    re-assigns cells offline, exactly as this loop's build round."""
    ls = LoopState(spark, "ann_loop")

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    cents = ls.put(
        emb.filter(F.col("vec_id") < _D184_K).select(
            F.col("vec_id").alias("cell"), F.col("v").alias("cv")
        ),
        "centroids",
    )

    # the assignment WRITE is the lineage cut AND the round's posting
    # generation: the persisted batch feeds the probe, the exact-recall
    # side, and every later round's posting union as parquet reads
    # (cheaper than a checkpoint's persist+count). The posting state at
    # probe time is the union of assignment generations 0..r-1 (r15, the
    # d181 generational move: no merged O(corpus) postings rewrite per
    # round). The three per-round assignments read only (cents, emb
    # slice) — never each other — so the three independent write jobs
    # overlap from a thread pool (guide §2.6: back-fill the tail); the
    # probe/recall data dependencies start strictly after the pool joins.
    from concurrent.futures import ThreadPoolExecutor

    from ..session import join_futures

    batches = [emb.filter(F.col("vec_id") % 4 != 3)] + [
        emb.filter(F.col("vec_id") % 8 == (3 if r == 1 else 7)) for r in (1, 2)
    ]
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(ls.put, _assign_cells(b, cents), "assign", r)
            for r, b in enumerate(batches)
        ]
        join_futures(futs)
    assign = [f.result().select("vec_id", "v", "cell") for f in futs]

    # In-cell probe results and the sampled exact-recall side, for both
    # rounds: every input (assign generations = posting generations at
    # probe time) is already persisted loop state, so the per-round
    # frames are value-identical computed here — two unioned writes
    # replace four in-loop write jobs (r15, guide §1.2: same passes,
    # fewer job launches).
    inc_rounds, exact_rounds = [], []
    for r in (1, 2):
        postings = ls.upto("assign", r - 1, assign[0].schema)
        probes = assign[r]
        inc_rounds.append(
            _probe_cells(probes, postings).select(
                F.lit(r).alias("round_id"), "*"
            )
        )
        wr = W.partitionBy("probe_id").orderBy(
            F.col("cs").desc(), F.col("neighbor_id").asc()
        )
        # exact-recall side: deterministic SAMPLED probe subset (see
        # docstring) — the crossJoin input is |batch|/mod probes
        probes_audit = probes.filter(
            portable_hash_long(F.col("vec_id"), _D184_RECALL_SALT)
            % recall_sample_mod
            == 0
        )
        exact_rounds.append(
            probes_audit.select(
                F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
            )
            .crossJoin(postings)  # exact vs full index state at probe time
            .select(
                "probe_id",
                F.col("vec_id").alias("neighbor_id"),
                cosine(F.col("pv"), F.col("v")).alias("cs"),
            )
            .withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") <= 3)
            .select(F.lit(r).alias("round_id"), "probe_id", "neighbor_id")
        )
    # the probe and exact-recall consolidations read only persisted
    # assignment state and write disjoint trees — overlap the two
    # independent jobs (guide §2.6)
    def _write_rounds(rounds, name: str) -> None:
        rounds[0].unionByName(rounds[1]).write.partitionBy("round_id").parquet(
            ls.path(name)
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        join_futures([
            pool.submit(_write_rounds, inc_rounds, "incell"),
            pool.submit(_write_rounds, exact_rounds, "exact"),
        ])

    # incell doubles as the assignment ledger (left-join probe keeps
    # empty-cell probes as NULL-neighbor rows), so the result is one
    # aggregation over incell ⟕ exact — both persisted loop state.
    inc = ls.all("incell").select(
        "round_id",
        "probe_id",
        "cell",
        "neighbor_id",
        "cs",
        "rk",
        "n_incell",
    )
    ex = ls.all("exact").select(
        "round_id",
        "probe_id",
        "neighbor_id",
        F.lit(1).alias("_m"),
    )
    audited = (
        portable_hash_long(F.col("probe_id"), _D184_RECALL_SALT)
        % recall_sample_mod
        == 0
    )
    return (
        inc.join(ex, ["round_id", "probe_id", "neighbor_id"], "left")
        .groupBy("round_id", "probe_id", "cell")
        .agg(
            F.max("n_incell").alias("n_incell"),
            F.max(F.when(F.col("rk") == 1, F.col("neighbor_id"))).alias("top1_id"),
            pround(F.max(F.when(F.col("rk") == 1, F.col("cs"))), 4).alias(
                "top1_cos"
            ),
            pround(F.coalesce(F.sum("_m"), F.lit(0)) / 3.0, 4).alias("_r3"),
        )
        .select(
            "round_id",
            "probe_id",
            "cell",
            "n_incell",
            "top1_id",
            "top1_cos",
            # unaudited probes declare themselves: recall3 NULL + flag 0
            F.when(audited, F.col("_r3")).alias("recall3"),
            audited.cast("int").alias("recall_audited"),
        )
        .orderBy("round_id", "probe_id")
    )


# ---------------------------------------------------------------------------
# D194: embedding index migration audit (centroid refresh / re-assignment)
# ---------------------------------------------------------------------------

_D194_K = 8  # centroids per generation (gen A seeds vec_id<8, gen B 8..15)


def _d194_oracle() -> str:
    cos = sql_cosine("e.v", "c.cv")

    def assign(cents: str, out: str) -> str:
        return f"""{out} AS (
        SELECT vec_id, cell, cs FROM (
            SELECT e.vec_id, c.cell, {cos} AS cs,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {cos} DESC, c.cell) AS rn
            FROM (SELECT vec_id, embedding AS v FROM embeddings) e
            CROSS JOIN {cents} c
        ) WHERE rn = 1
    )"""

    return f"""
    WITH ca AS (
        SELECT vec_id AS cell, embedding AS cv FROM embeddings
        WHERE vec_id < {_D194_K}
    ),
    cb AS (
        SELECT vec_id - {_D194_K} AS cell, embedding AS cv FROM embeddings
        WHERE vec_id >= {_D194_K} AND vec_id < {2 * _D194_K}
    ),
    {assign("ca", "aa")},
    {assign("cb", "ab")}
    SELECT aa.cell AS cell_a, ab.cell AS cell_b,
           CAST(count(*) AS BIGINT) AS n_vecs,
           {sql_round("avg(aa.cs)", 4)} AS mean_cos_a,
           {sql_round("avg(ab.cs)", 4)} AS mean_cos_b,
           {sql_round("avg(ab.cs - aa.cs)", 4)} AS mean_gain
    FROM aa JOIN ab USING (vec_id)
    GROUP BY aa.cell, ab.cell
    ORDER BY cell_a, cell_b
    """


@query("d194_index_migration_audit", tags=("D194", "D184", "D68"),
       oracle=_d194_oracle())
def d194_index_migration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding index migration audit — the planning input for the
    one maintenance step d184 declares out of scope (centroid refresh):
    assign the whole corpus to the CURRENT coarse centroids (gen A) and
    to the CANDIDATE refreshed set (gen B), and report the full
    transition matrix — how many vectors each (old cell -> new cell)
    edge would move, with mean assignment cosine under each generation
    and the per-edge mean gain. An index operator reads this to decide
    whether the rebuild pays (mean_gain) and how much data motion it
    costs (off-diagonal mass = posting rows that must be rewritten).

    Plan shape: two construction-bounded K-row crossJoin assignments
    (the d184 _assign_cells discipline — the ONLY broadcast-NLJ class
    this family allows), one vec_id equi-join to pair the generations,
    one keyed aggregation over <= K x K cells. The corpus is scanned
    once per assignment and nothing larger than the K x K matrix ever
    aggregates — at 100 TB this is two map passes + one bounded fold,
    run BEFORE committing to the full posting rewrite."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    ca = emb.filter(F.col("vec_id") < _D194_K).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    cb = emb.filter(
        (F.col("vec_id") >= _D194_K) & (F.col("vec_id") < 2 * _D194_K)
    ).select((F.col("vec_id") - _D194_K).alias("cell"), F.col("v").alias("cv"))

    def assign(cents: DataFrame, cell_out: str, cs_out: str) -> DataFrame:
        w = W.partitionBy("vec_id").orderBy(F.col("cs").desc(), F.col("cell").asc())
        return (
            emb.crossJoin(F.broadcast(cents))
            .select("vec_id", "cell", cosine(F.col("v"), F.col("cv")).alias("cs"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("cell").alias(cell_out), F.col("cs").alias(cs_out))
        )

    aa = assign(ca, "cell_a", "cs_a")
    ab = assign(cb, "cell_b", "cs_b")
    return (
        aa.join(ab, "vec_id")
        .groupBy("cell_a", "cell_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            pround(F.avg("cs_a"), 4).alias("mean_cos_a"),
            pround(F.avg("cs_b"), 4).alias("mean_cos_b"),
            pround(F.avg(F.col("cs_b") - F.col("cs_a")), 4).alias("mean_gain"),
        )
        .orderBy("cell_a", "cell_b")
    )


# ---------------------------------------------------------------------------
# D203: embedding truncation (matryoshka) ranking-preservation audit
# ---------------------------------------------------------------------------

_D203_PROBES = 8
_D203_TRUNC = 16  # candidate truncated dimensionality (of 64)
_D203_K = 3


def _d203_oracle() -> str:
    cs = sql_cosine("p.embedding", "c.embedding")
    cs_t = sql_cosine("p.embedding", "c.embedding", dim=_D203_TRUNC)
    return f"""
    WITH pairs AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS cid,
               {cs} AS cs, {cs_t} AS cs_t
        FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
        WHERE p.vec_id < {_D203_PROBES}
    ),
    rk AS (
        SELECT probe_id, cid, cs, cs_t,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY cs DESC, cid ASC) AS rf,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY cs_t DESC, cid ASC) AS rt
        FROM pairs
    )
    SELECT probe_id,
           string_agg(cid, ',' ORDER BY rf) FILTER (WHERE rf <= {_D203_K})
               AS top{_D203_K}_full,
           string_agg(cid, ',' ORDER BY rt) FILTER (WHERE rt <= {_D203_K})
               AS top{_D203_K}_trunc,
           CAST(len(list_intersect(
               list(cid) FILTER (WHERE rf <= {_D203_K}),
               list(cid) FILTER (WHERE rt <= {_D203_K}))) AS INT) AS overlap,
           {sql_round(f'max(cs) FILTER (WHERE rf = 1)', 4)} AS top1_cos_full,
           {sql_round(f'max(cs_t) FILTER (WHERE rt = 1)', 4)} AS top1_cos_trunc
    FROM rk GROUP BY probe_id ORDER BY probe_id
    """


@query("d203_matryoshka_audit", tags=("D203", "D68", "D75", "D194"),
       oracle=_d203_oracle())
def d203_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding truncation (matryoshka) audit — before serving
    truncated vectors (the d75 quantization question asked of
    DIMENSIONALITY), quantify what dropping 64→16 dims does to
    RANKINGS, not just to individual cosines: per probe, the exact
    top-3 under the full vectors vs the top-3 under the 16-dim prefix,
    their rank-order lists, the set overlap, and the top-1 cosine under
    each. A high overlap says the truncated index can serve recall with
    4x less memory bandwidth; this ledger is the measured basis for
    that call (measure-don't-guess, the d190/d194 audit class).

    Scale shape: probes are bounded by construction (8 ids), broadcast
    against the corpus — the pair fold is the d68 exact-baseline class
    (O(probes x corpus), the declared audit cost; the production path
    at scale samples probes exactly like d184's recall side). Both
    rankings ride windows over the SAME bounded probe partition, and
    the truncated cosine re-folds a 16-element slice of the same
    scanned pv/cv arrays in the same projection — a second O(16) fold,
    not a second corpus scan (one corpus scan total)."""
    p = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("probe_id"),
        to_double(F.col("embedding")).alias("pv"),
    ).filter(F.col("probe_id") < _D203_PROBES)
    c = fan_out(
        load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("cid"),
            to_double(F.col("embedding")).alias("cv"),
        )
    )
    pairs = c.join(
        F.broadcast(p), F.col("cid") != F.col("probe_id")
    ).select(
        "probe_id",
        "cid",
        cosine(F.col("pv"), F.col("cv")).alias("cs"),
        cosine(
            F.slice("pv", 1, _D203_TRUNC), F.slice("cv", 1, _D203_TRUNC)
        ).alias("cs_t"),
    )
    by_probe = W.partitionBy("probe_id")
    rk = pairs.select(
        "probe_id",
        "cid",
        "cs",
        "cs_t",
        F.row_number()
        .over(by_probe.orderBy(F.col("cs").desc(), F.col("cid").asc()))
        .alias("rf"),
        F.row_number()
        .over(by_probe.orderBy(F.col("cs_t").desc(), F.col("cid").asc()))
        .alias("rt"),
    )
    k = _D203_K

    def ranked_ids(rcol: str) -> F.Column:
        structs = F.array_sort(
            F.collect_list(
                F.when(
                    F.col(rcol) <= k, F.struct(F.col(rcol).alias("r"), F.col("cid").alias("id"))
                )
            )
        )
        return F.array_join(
            F.transform(structs, lambda x: x["id"].cast("string")), ","
        )

    def id_set(rcol: str) -> F.Column:
        return F.collect_list(F.when(F.col(rcol) <= k, F.col("cid")))

    return (
        rk.groupBy("probe_id")
        .agg(
            ranked_ids("rf").alias(f"top{k}_full"),
            ranked_ids("rt").alias(f"top{k}_trunc"),
            F.size(F.array_intersect(id_set("rf"), id_set("rt"))).alias("overlap"),
            pround(F.max(F.when(F.col("rf") == 1, F.col("cs"))), 4).alias(
                "top1_cos_full"
            ),
            pround(F.max(F.when(F.col("rt") == 1, F.col("cs_t"))), 4).alias(
                "top1_cos_trunc"
            ),
        )
        .orderBy("probe_id")
    )


# ---------------------------------------------------------------------------
# D214: hard-negative mining (contrastive-training data prep)
# ---------------------------------------------------------------------------

_D214_PROBES = 8


def _d214_oracle() -> str:
    cs = sql_cosine("p.embedding", "c.embedding")
    return f"""
    WITH pairs AS (
        SELECT p.vec_id AS probe_id, p.label AS label,
               c.vec_id AS cid, c.label AS clabel, {cs} AS cs
        FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
        WHERE p.vec_id < {_D214_PROBES}
    ),
    rk AS (
        SELECT probe_id, label, cid, clabel, cs,
               row_number() OVER (PARTITION BY probe_id, (clabel = label)
                                  ORDER BY cs DESC, cid ASC) AS r
        FROM pairs
    )
    SELECT probe_id, CAST(max(label) AS INT) AS label,
           max(CASE WHEN clabel = label AND r = 1 THEN cid END) AS top1_pos_id,
           {sql_round('max(CASE WHEN clabel = label AND r = 1 THEN cs END)', 4)}
               AS top1_pos_cos,
           max(CASE WHEN clabel <> label AND r = 1 THEN cid END) AS top1_neg_id,
           {sql_round('max(CASE WHEN clabel <> label AND r = 1 THEN cs END)', 4)}
               AS top1_neg_cos,
           {sql_round('max(CASE WHEN clabel = label AND r = 1 THEN cs END) - '
                      'max(CASE WHEN clabel <> label AND r = 1 THEN cs END)', 4)}
               AS margin,
           CAST(max(CASE WHEN clabel = label AND r = 1 THEN cs END)
                < max(CASE WHEN clabel <> label AND r = 1 THEN cs END) AS INT)
               AS confusable
    FROM rk GROUP BY probe_id ORDER BY probe_id
    """


@query("d214_hard_negative_mining", tags=("D214", "D68", "D203", "D197"),
       oracle=_d214_oracle())
def d214_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the contrastive-training data-prep
    primitive (the embedding-side twin of d197's preference pairs): for
    each anchor, the nearest SAME-label neighbor (the positive) and the
    nearest DIFFERENT-label neighbor (the hard negative — the example
    that actually teaches the margin), plus the pos-neg cosine margin
    and a ``confusable`` flag where the hard negative outranks the
    positive — the anchors a curriculum should upweight (or a labeler
    should re-check).

    Scale shape: the d68/d203 exact-baseline class — construction-
    bounded probes (8 anchors) broadcast against the corpus, ONE scan,
    one cosine fold per pair; both rankings ride a single window
    partitioned by (probe, same-label) so positives and negatives rank
    in the same pass. Production mines per-batch with the d184 cell
    layout; this is the measured exact baseline."""
    p = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("probe_id"),
        to_double(F.col("embedding")).alias("pv"),
        F.col("label").alias("label"),
    ).filter(F.col("probe_id") < _D214_PROBES)
    c = fan_out(
        load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("cid"),
            to_double(F.col("embedding")).alias("cv"),
            F.col("label").alias("clabel"),
        )
    )
    pairs = c.join(
        F.broadcast(p), F.col("cid") != F.col("probe_id")
    ).select(
        "probe_id",
        "label",
        "cid",
        "clabel",
        cosine(F.col("pv"), F.col("cv")).alias("cs"),
    )
    same = F.col("clabel") == F.col("label")
    rk = pairs.select(
        "probe_id",
        "label",
        "cid",
        "cs",
        same.alias("is_pos"),
        F.row_number()
        .over(
            W.partitionBy("probe_id", same).orderBy(
                F.col("cs").desc(), F.col("cid").asc()
            )
        )
        .alias("r"),
    )
    pos1 = F.max(F.when(F.col("is_pos") & (F.col("r") == 1), F.col("cs")))
    neg1 = F.max(F.when(~F.col("is_pos") & (F.col("r") == 1), F.col("cs")))
    return (
        rk.groupBy("probe_id")
        .agg(
            F.max("label").cast("int").alias("label"),
            F.max(F.when(F.col("is_pos") & (F.col("r") == 1), F.col("cid"))).alias(
                "top1_pos_id"
            ),
            pround(pos1, 4).alias("top1_pos_cos"),
            F.max(F.when(~F.col("is_pos") & (F.col("r") == 1), F.col("cid"))).alias(
                "top1_neg_id"
            ),
            pround(neg1, 4).alias("top1_neg_cos"),
            pround(pos1 - neg1, 4).alias("margin"),
            (pos1 < neg1).cast("int").alias("confusable"),
        )
        .orderBy("probe_id")
    )


# ---------------------------------------------------------------------------
# D215: arrival-path semantic-dedup loop (persisted IVF cells + cosine keeps)
# ---------------------------------------------------------------------------

_D215_TAU = 0.9999  # d118's SemDeDup threshold — only (near-)exact copies
_D215_NATURAL = {0: (4, 0), 1: (8, 1), 2: (8, 5)}  # round -> (mod, rem)
# round -> [(base multiplier, mod, rem)] exact-copy injections; an
# injected arrival gets vec_id = original + mult * base where
# base = max(vec_id) + 1 is derived FROM THE CORPUS (ADVICE r12: the
# old fixed 1e6..6e6 offsets collide once the table exceeds ~1M rows —
# e.g. a round-2 +4e6 copy of v equals a round-1 +2e6 append of
# v+2e6 — and colliding arrival ids are collapsed by the rn=1
# assignment, silently dropping arrivals and voiding the
# by-construction non-vacuity guarantees). Per-spec multiples of base
# keep every injected range disjoint from the corpus and from each
# other at ANY scale. Classes (mult k = the k-th injection):
#   r1 k=1 of %20==0  -> copies of BOOTSTRAP keeps   => dup_index r1
#   r1 k=2 of %40==2  -> novel (originals never indexed) => kept r1
#   r1 k=3 of %40==2  -> identical to the k=2 twin   => dup_batch r1
#   r2 k=4 of %40==2  -> copies of the k=2 ROUND-1 APPENDS
#                        => dup_index r2 (the growth proof)
#   r2 k=5/k=6 of %40==6 -> novel twin pair          => kept + dup_batch r2
_D215_COPIES = {
    1: [(1, 20, 0), (2, 40, 2), (3, 40, 2)],
    2: [(4, 40, 2), (5, 40, 6), (6, 40, 6)],
}
# Bounded exact-side sample for cross-cell miss accounting (VERDICT
# r12 #3): per round, the <= 4 lowest-id arrivals of each of the <= 8
# lowest sampled cells are re-scored against ALL keeps of the prior
# index generation — <= 32 probe rows by construction REGARDLESS of K
# (the d184 recall3 discipline). The cell cap matters at scale: K
# grows with the index in a real IVF deployment (K ~ N/density), so a
# per-cell-only sample would cost O(4K x N) ~ N^2 per round — measured
# as exactly that creep by tools/scale_arrival.py before the cap; with
# the constant probe total the exact side is one O(32 x N) index scan
# per round, the same class as generation compaction.
_D215_PROBES_PER_CELL = 4
_D215_PROBE_CELLS = 8


def _d215_oracle() -> str:
    cos_ac = sql_cosine("a.v", "c.cv")

    def flags(b: str, i: str) -> str:
        cos_bi = sql_cosine("b.v", "i.v")
        cos_hl = sql_cosine("hi.v", "lo.v")
        return f"""(
        SELECT b.vec_id, b.cell,
               CASE WHEN di.k IS NOT NULL THEN 'dup_index'
                    WHEN db.k IS NOT NULL THEN 'dup_batch'
                    ELSE 'kept' END AS status,
               coalesce(di.k, db.k) AS kept_id
        FROM {b} b
        LEFT JOIN (SELECT b.vec_id, min(i.vec_id) AS k
                   FROM {b} b JOIN {i} i ON i.cell = b.cell
                   WHERE {cos_bi} >= {_D215_TAU}
                   GROUP BY b.vec_id) di ON di.vec_id = b.vec_id
        LEFT JOIN (SELECT hi.vec_id, min(lo.vec_id) AS k
                   FROM {b} hi JOIN {b} lo
                     ON lo.cell = hi.cell AND lo.vec_id < hi.vec_id
                   WHERE {cos_hl} >= {_D215_TAU}
                   GROUP BY hi.vec_id) db ON db.vec_id = b.vec_id
    )"""

    arr_parts = []
    for r, (mod, rem) in _D215_NATURAL.items():
        arr_parts.append(
            f"SELECT {r} AS round_id, vec_id, v FROM e"
            f" WHERE vec_id % {mod} = {rem}"
        )
    for r, specs in _D215_COPIES.items():
        for mult, mod, rem in specs:
            arr_parts.append(
                f"SELECT {r}, vec_id + {mult} * u.base, v FROM e CROSS JOIN u"
                f" WHERE vec_id % {mod} = {rem}"
            )
    arr_sql = "\n        UNION ALL ".join(arr_parts)

    # Cross-cell miss accounting (VERDICT r12 #3): per round, the <= 4
    # lowest-id arrivals per cell re-scored against ALL keeps of the
    # prior index generation (any cell); missed = recorded 'kept' but a
    # cos >= tau twin exists somewhere in the index.
    miss_parts = []
    for r, prev in ((0, "i_empty"), (1, "i0"), (2, "i1")):
        cos_pi = sql_cosine("p2.v", "i.v")
        miss_parts.append(f"""
    p{r} AS (
        SELECT vec_id, v, cell FROM (
            SELECT vec_id, v, cell,
                   row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS prn
            FROM a{r}
            WHERE cell IN (SELECT DISTINCT cell FROM a{r}
                           ORDER BY cell LIMIT {_D215_PROBE_CELLS})
        ) WHERE prn <= {_D215_PROBES_PER_CELL}
    ),
    m{r} AS (
        SELECT {r} AS round_id, CAST(p.cell AS INT) AS cell,
               count(*) AS n_probes,
               CAST(coalesce(sum(CASE WHEN f.status = 'kept'
                                       AND t.p_id IS NOT NULL
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_missed_twin
        FROM p{r} p
        JOIN f{r} f ON f.vec_id = p.vec_id
        LEFT JOIN (SELECT DISTINCT p2.vec_id AS p_id
                   FROM p{r} p2 JOIN {prev} i ON {cos_pi} >= {_D215_TAU}) t
          ON t.p_id = p.vec_id
        GROUP BY p.cell
    )""")
    miss_sql = ",".join(miss_parts)

    dg = sql_two_level_digest(
        "status",
        ["round_id", "cell"],
        "CAST(vec_id AS VARCHAR) || '|' || status || '|'"
        " || coalesce(CAST(kept_id AS VARCHAR), '')",
        count_alias="n_arrivals",
        sum_exprs={
            "n_dup_index": "CAST(status = 'dup_index' AS INT)",
            "n_dup_batch": "CAST(status = 'dup_batch' AS INT)",
            "n_kept": "CAST(status = 'kept' AS INT)",
        },
    )

    return f"""
    WITH cents AS (
        SELECT vec_id AS cell, embedding AS cv FROM embeddings
        WHERE vec_id < {_D184_K}
    ),
    e AS (SELECT vec_id, embedding AS v FROM embeddings),
    u AS (SELECT CAST(max(vec_id) + 1 AS BIGINT) AS base FROM embeddings),
    arr AS (
        {arr_sql}
    ),
    asg AS (
        SELECT round_id, vec_id, v, cell FROM (
            SELECT a.round_id, a.vec_id, a.v, c.cell,
                   row_number() OVER (PARTITION BY a.round_id, a.vec_id
                                      ORDER BY {cos_ac} DESC, c.cell) AS rn
            FROM arr a CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    a0 AS (SELECT vec_id, v, cell FROM asg WHERE round_id = 0),
    a1 AS (SELECT vec_id, v, cell FROM asg WHERE round_id = 1),
    a2 AS (SELECT vec_id, v, cell FROM asg WHERE round_id = 2),
    i_empty AS (SELECT vec_id, v, cell FROM a0 WHERE 1 = 0),
    f0 AS {flags("a0", "i_empty")},
    i0 AS (SELECT a.* FROM a0 a JOIN f0 f ON f.vec_id = a.vec_id
           WHERE f.status = 'kept'),
    f1 AS {flags("a1", "i0")},
    i1 AS (SELECT * FROM i0 UNION ALL
           SELECT a.* FROM a1 a JOIN f1 f ON f.vec_id = a.vec_id
           WHERE f.status = 'kept'),
    f2 AS {flags("a2", "i1")},
    status AS (
        SELECT 0 AS round_id, CAST(cell AS INT) AS cell, vec_id, status, kept_id FROM f0
        UNION ALL
        SELECT 1, CAST(cell AS INT), vec_id, status, kept_id FROM f1
        UNION ALL
        SELECT 2, CAST(cell AS INT), vec_id, status, kept_id FROM f2
    ),{miss_sql},
    miss AS (
        SELECT * FROM m0 UNION ALL SELECT * FROM m1 UNION ALL SELECT * FROM m2
    ),
    ledger AS ({dg})
    SELECT CAST(l.round_id AS INT) AS round_id, l.cell,
           l.n_arrivals, l.n_dup_index, l.n_dup_batch, l.n_kept,
           CAST(sum(l.n_kept) OVER (PARTITION BY l.cell ORDER BY l.round_id)
                AS BIGINT) AS index_after,
           m.n_probes, m.n_missed_twin,
           {sql_round("m.n_missed_twin * 1.0 / m.n_probes", 4)}
               AS missed_twin_rate,
           l.digest
    FROM ledger l
    LEFT JOIN miss m ON m.round_id = l.round_id AND m.cell = l.cell
    ORDER BY l.round_id, l.cell
    """


def _d215_batch(emb: DataFrame, r: int, base: int) -> DataFrame:
    mod, rem = _D215_NATURAL[r]
    b = emb.filter(F.col("vec_id") % mod == rem).select("vec_id", "v")
    for mult, m2, r2 in _D215_COPIES.get(r, []):
        b = b.unionByName(
            emb.filter(F.col("vec_id") % m2 == r2).select(
                (F.col("vec_id") + F.lit(mult * base)).alias("vec_id"), "v"
            )
        )
    return b


def _d215_index_probe(assigned: DataFrame, idx: DataFrame) -> DataFrame:
    """The recurring per-arrival cost of the loop: probe the persisted
    keeps index for a same-cell cos ≥ τ twin — ONE cell-keyed equi-join,
    never all-pairs across cells, never a corpus scan. Factored out of
    `_d215_flags` so tools/scale_arrival.py measures the shipped probe.
    Returns (vec_id, _ik = minimum matching keep id)."""
    return (
        assigned.select("vec_id", "v", "cell")
        .join(
            idx.select(
                F.col("vec_id").alias("i_id"), F.col("v").alias("iv"), "cell"
            ),
            "cell",
        )
        .filter(cosine(F.col("v"), F.col("iv")) >= _D215_TAU)
        .groupBy("vec_id")
        .agg(F.min("i_id").alias("_ik"))
    )


def _d215_flags(assigned: DataFrame, idx: DataFrame) -> DataFrame:
    """Keep/drop decision for one arrival batch vs the persisted keeps
    index: dup_index ⇔ some index keep in the SAME CELL at cos ≥ τ
    (kept_id = the minimum such keep); else dup_batch ⇔ some lower-id
    same-cell BATCH member at cos ≥ τ (the d118 rule — the reference
    member's own fate does not matter, so the decision is one join, not
    a recursion); else kept. Both passes are cell-keyed equi-joins —
    never all-pairs across cells, never a corpus scan."""
    di = _d215_index_probe(assigned, idx)
    lo = assigned.select(
        "cell", F.col("vec_id").alias("b_id"), F.col("v").alias("bv")
    )
    db = (
        assigned.join(lo, "cell")
        .filter(
            (F.col("b_id") < F.col("vec_id"))
            & (cosine(F.col("v"), F.col("bv")) >= _D215_TAU)
        )
        .groupBy("vec_id")
        .agg(F.min("b_id").alias("_bk"))
    )
    return (
        assigned.join(di, "vec_id", "left")
        .join(db, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.when(F.col("_ik").isNotNull(), F.lit("dup_index"))
            .when(F.col("_bk").isNotNull(), F.lit("dup_batch"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.coalesce(F.col("_ik"), F.col("_bk")).alias("kept_id"),
            # carried so the status write doubles as the keeps index
            # (kept rows ARE generation r — see kept_upto), but ONLY
            # for kept rows: kept_upto's pushed status='kept' filter
            # never reads a rejected row's vector, so persisting it was
            # pure write amplification — at a high dup rate the ledger
            # would carry the full embedding of every REJECTED arrival
            # (VERDICT r15 watch item). NULL keeps the append O(keeps)
            # vector bytes; every other consumer prunes the column.
            F.when(
                F.col("_ik").isNull() & F.col("_bk").isNull(), F.col("v")
            ).alias("v"),
        )
    )


def _d215_miss_stats(
    assigned: DataFrame, status: DataFrame, idx: DataFrame
) -> DataFrame:
    """Sampled EXACT side for cross-cell miss accounting (VERDICT r12
    #3): the cell-keyed probe in `_d215_flags` can never see a twin
    whose keep landed in a DIFFERENT cell, so — like d184's per-probe
    recall3 — a bounded probe subset (the ≤ `_D215_PROBES_PER_CELL`
    lowest-id arrivals per cell, ≤ 4K rows by construction) is
    re-scored against ALL keeps of the prior index generation, any
    cell. The sample is additionally capped to the
    `_D215_PROBE_CELLS` lowest sampled cells, so the probe TOTAL is a
    constant (≤ 32) independent of K — see the constant's comment for
    the at-scale O(K·N) creep this prevents. A probe whose recorded
    status is 'kept' but which has a cos ≥ τ twin ANYWHERE in the
    index is a missed twin (an in-cell twin would have forced
    dup_index, so every hit here is genuinely cross-cell). Returns
    (cell, n_probes, n_missed_twin); the exact join broadcasts the
    constant-size probe side over one index scan — O(32 × index) work
    per round, never index × index."""
    wp = W.partitionBy("cell").orderBy("vec_id")
    cells = (
        assigned.select("cell")
        .distinct()
        .orderBy("cell")
        .limit(_D215_PROBE_CELLS)
    )
    probes = (
        assigned.join(F.broadcast(cells), "cell")
        .withColumn("prn", F.row_number().over(wp))
        .filter(F.col("prn") <= _D215_PROBES_PER_CELL)
        .select("vec_id", "v", "cell")
    )
    twins = (
        idx.select(F.col("vec_id").alias("i_id"), F.col("v").alias("iv"))
        .join(
            F.broadcast(
                probes.select(
                    F.col("vec_id").alias("p_id"), F.col("v").alias("pv")
                )
            ),
            cosine(F.col("pv"), F.col("iv")) >= _D215_TAU,
        )
        .select("p_id")
        .distinct()
    )
    return (
        probes.join(status.select("vec_id", "status"), "vec_id")
        .join(
            twins.withColumn("_tw", F.lit(1)).withColumnRenamed(
                "p_id", "vec_id"
            ),
            "vec_id",
            "left",
        )
        .groupBy(F.col("cell").cast("int").alias("cell"))
        .agg(
            F.count("*").alias("n_probes"),
            F.sum(
                (
                    (F.col("status") == "kept") & F.col("_tw").isNotNull()
                ).cast("int")
            ).alias("n_missed_twin"),
        )
    )


@query(
    "d215_semantic_dedup_arrival",
    tags=("D215", "D118", "D184", "D187"),
    oracle=_d215_oracle(),
)
def d215_semantic_dedup_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-path semantic-dedup loop (VERDICT r11 #6) — the
    embedding twin of d187's text curation loop, composing d184's
    persisted IVF cells with d118's cosine keep-one decision: a
    continual curation run doesn't re-SemDeDup the corpus per batch, it
    probes each arrival against the PERSISTED keeps of its assigned
    cell and appends only the survivors.

    Round 0 (bootstrap): the base slice assigns to the K=8 seed
    centroids, within-cell keep-one dedup (empty index), keeps become
    index generation 0. Rounds 1-2 (arrivals): each batch assigns
    (bounded K-row crossJoin), probes ONLY its cell of the persisted
    keeps index (cell-keyed equi-join) for a cos ≥ τ=0.9999 twin —
    dup_index, collapsing onto the MINIMUM matching keep — else
    dedups within the batch by the d118 lower-id rule (dup_batch),
    else is kept and APPENDED to a new index generation. Exact-copy
    injections make every class non-vacuous and make round 2's
    dup_index drops copies of round-1 APPENDS, so a correct answer
    requires cross-round index growth (the d184/d187 discipline; see
    _D215_COPIES).

    Cross-cell miss accounting (VERDICT r12 #3): like any IVF dedup,
    the cell-keyed probe never compares twins that land in DIFFERENT
    cells, so each round also re-scores a bounded probe subset (the
    ≤ 4 lowest-id arrivals per cell over the ≤ 8 lowest sampled cells
    — a ≤ 32-probe constant independent of K) against ALL keeps of the
    prior generation — any cell — and the ledger reports ``n_probes`` /
    ``n_missed_twin`` / ``missed_twin_rate`` per (round, cell). For
    THIS query's exact-copy injections the measured rate is 0 by
    IVF-assignment consistency (an exact copy has identical cosines to
    every centroid, so it lands in its original's cell — the same
    deterministic tie-break on both engines); the metric exists to
    catch near-twins straddling a cell boundary at scale, and
    tests/test_property.py::test_d215_miss_accounting_fires proves the
    machinery counts a constructed cross-cell twin.

    Output: one ledger row per (round, cell) — arrival/drop/keep
    counts, the per-cell index size after the round, the sampled
    cross-cell miss columns, and a two-level
    membership digest over ``vec_id|status|kept_id`` payloads, so a
    wrong drop reason or wrong collapse target fails the hash even
    when counts coincide. The ledger is computed entirely FROM the
    persisted status state (zero embeddings scans in the final plan —
    pinned by test_semdedup_arrival_reads_only_persisted_state).

    At 100 TB: per-arrival work = bounded K-row assignment + ONE
    cell-keyed equi-join against the posting generation (never the
    whole index, never all-pairs across cells) + one cell-keyed
    within-batch pass (O(Σ per-cell batch²), batch-bounded; a
    corpus-scale BOOTSTRAP would ride d118's tiled per-cell Gram
    instead — this loop's batches are arrival-rate-bounded by
    definition). Index updates are append-only generations (the
    d181/d187 merge shape) carried BY the round's status write — the
    kept rows carry v, so the index append costs zero extra jobs and
    probes read the kept rows back with a pushed filter; rejected
    arrivals are NOT indexed — the index carries exactly what the
    curated corpus carries."""
    ls = LoopState(spark, "semdedup_loop")

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    # Injection offset unit, derived from the corpus (ADVICE r12 —
    # see _D215_COPIES). bounded: 1-row global max aggregate.
    base = int(emb.agg(F.max("vec_id")).first()[0]) + 1
    cents = ls.put(
        emb.filter(F.col("vec_id") < _D184_K).select(
            F.col("vec_id").alias("cell"), F.col("v").alias("cv")
        ),
        "centroids",
    )
    status_schema = (
        "vec_id long, cell long, status string, kept_id long, v array<double>"
    )

    def kept_upto(r: int):
        """Kept rows of status generations 0..r. The status write
        carries ``v``, so the kept rows ARE the index generations (r15
        second pass, guide §1.2: no separate per-round index write whose
        rows were a filtered copy of the status state just written); the
        filter/projection prune to (vec_id, v, cell) at the parquet
        scan, so per-arrival index I/O stays O(batch)."""
        return (
            ls.upto("status", r, status_schema)
            .filter(F.col("status") == "kept")
            .select("vec_id", "v", "cell")
        )

    assign, status_gens = [], []
    for r in (0, 1, 2):
        # the assignment WRITE is the lineage cut (the d184 pattern):
        # the persisted batch feeds the index probe and the
        # within-batch pass as parquet reads
        a = ls.put(_assign_cells(_d215_batch(emb, r, base), cents), "assign", r)
        assign.append(a.select("vec_id", "v", "cell"))
        # the status write IS the round's index append (see kept_upto)
        status_gens.append(
            ls.put(_d215_flags(assign[r], kept_upto(r - 1)), "status", r)
        )

    # Bounded exact side vs each round's PRIOR generation (the state
    # that round's dup_index decision probed). Every input is already
    # persisted loop state (assign / status — whose kept rows are the
    # index generations), so the three per-round frames are
    # value-identical computed here and union into ONE partitioned
    # write instead of three in-loop write jobs (r15, guide §1.2: same
    # passes, fewer job launches) — and the final ledger plan stays a
    # pure state read either way.
    miss_rounds = [
        _d215_miss_stats(assign[r], status_gens[r], kept_upto(r - 1)).select(
            F.lit(r).alias("round_id"), "cell", "n_probes", "n_missed_twin"
        )
        for r in (0, 1, 2)
    ]
    mr = miss_rounds[0]
    for m in miss_rounds[1:]:
        mr = mr.unionByName(m)
    mr.write.partitionBy("round_id").parquet(ls.path("miss"))

    status = ls.all("status").select(
        "round_id",
        F.col("cell").cast("int").alias("cell"),
        "vec_id",
        "status",
        "kept_id",
    )
    led = two_level_digest(
        status.select(
            "round_id",
            "cell",
            F.concat_ws(
                "|",
                F.col("vec_id").cast("string"),
                F.col("status"),
                F.coalesce(F.col("kept_id").cast("string"), F.lit("")),
            ).alias("_pay"),
            (F.col("status") == "dup_index").cast("int").alias("_di"),
            (F.col("status") == "dup_batch").cast("int").alias("_db"),
            (F.col("status") == "kept").cast("int").alias("_kk"),
        ),
        ["round_id", "cell"],
        F.col("_pay"),
        count_alias="n_arrivals",
        sum_cols={"n_dup_index": "_di", "n_dup_batch": "_db", "n_kept": "_kk"},
    )
    miss = ls.all("miss").select(
        "round_id",
        F.col("cell").cast("int").alias("cell"),
        "n_probes",
        "n_missed_twin",
    )
    # bounded: <= rounds x K ledger rows; per-cell cumulative keeps =
    # the index size after each round
    w_cell = W.partitionBy("cell").orderBy("round_id")
    return (
        led.withColumn("index_after", F.sum("n_kept").over(w_cell))
        .join(miss, ["round_id", "cell"], "left")
        .select(
            "round_id",
            "cell",
            "n_arrivals",
            "n_dup_index",
            "n_dup_batch",
            "n_kept",
            "index_after",
            "n_probes",
            "n_missed_twin",
            pround(F.col("n_missed_twin") / F.col("n_probes"), 4).alias(
                "missed_twin_rate"
            ),
            "digest",
        )
        .orderBy("round_id", "cell")
    )


# ---------------------------------------------------------------------------
# D220: nearest-neighbor similarity histogram (the tau-selection artifact)
# ---------------------------------------------------------------------------

_D220_BINS = 20  # 0.05-wide cosine bins over [0, 1); bin -1 = isolated


@query(
    "d220_nn_similarity_histogram",
    tags=("D220", "D118", "D184", "D68"),
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cell, embedding AS cv FROM embeddings
        WHERE vec_id < {_D184_K}
    ),
    e AS (SELECT vec_id, embedding AS v FROM embeddings),
    asg AS (
        SELECT vec_id, v, cell FROM (
            SELECT e.vec_id, e.v, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {sql_cosine("e.v", "c.cv")} DESC,
                                               c.cell) AS rn
            FROM e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    nn AS (
        SELECT a.vec_id,
               max(CASE WHEN b.vec_id <> a.vec_id
                        THEN {sql_cosine("a.v", "b.v")} END) AS nn_cos
        FROM asg a
        JOIN asg b ON b.cell = a.cell
        GROUP BY a.vec_id
    ),
    binned AS (
        SELECT CASE WHEN nn_cos IS NULL THEN -1
                    ELSE CAST(greatest(0, least({_D220_BINS - 1},
                         floor(nn_cos * {_D220_BINS}))) AS INT) END AS bin,
               count(*) AS n
        FROM nn GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS total FROM binned)
    SELECT bin,
           {sql_round(f"CASE WHEN bin >= 0 THEN bin / {float(_D220_BINS)} ELSE -1.0 END", 4)} AS bin_lo,
           CAST(n AS BIGINT) AS n,
           {sql_round("n * 1.0 / total", 4)} AS share,
           {sql_round(
               "sum(CASE WHEN bin >= 0 THEN n ELSE 0 END)"
               " OVER (ORDER BY bin DESC) * 1.0 / total", 4)} AS cum_share_ge
    FROM binned CROSS JOIN tot
    ORDER BY bin
    """,
)
def d220_nn_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor cosine histogram — the plot you actually look
    at to CHOOSE the semantic-dedup threshold (d118/d215's τ) and the
    near-dup cutoffs: per vector, the exact nearest-neighbor cosine
    within its IVF cell, folded into 0.05-wide bins with per-bin share
    and the descending cumulative share (``cum_share_ge`` = the
    fraction of the corpus a threshold at that bin's floor would flag
    as having a near-twin). Vectors alone in their cell land in the
    sentinel bin -1 instead of silently vanishing, so the shares sum
    to 1 and the isolated mass is visible.

    Plan shape: bounded K-row assignment (the d184/d215 discipline),
    then ONE cell-keyed self equi-join — O(Σ per-cell n²) cosine
    folds, never all-pairs across cells; a real deployment sizes K so
    per-cell density is constant, making this one corpus-linear pass
    (the same rule tools/scale_arrival.py measures for d215). The
    histogram fold is a groupBy onto ≤ {_D220_BINS + 1} rows; the
    cumulative share rides a window over that bounded frame. Cosines
    are bit-identical across engines (same fold order), so the bin
    floor is portable."""
    from ..session import reliable_checkpoint

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    cents = emb.filter(F.col("vec_id") < _D184_K).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    # checkpoint the assignment: it feeds BOTH sides of the self-join,
    # and without the cut the corpus scan + K-row assignment recompute
    # per reference
    asg = reliable_checkpoint(_assign_cells(emb, cents))
    nbr = asg.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("bv"), "cell"
    )
    # self always matches the cell join, so a singleton cell still
    # yields its row — the self-exclusion lives INSIDE the max() and a
    # lone vector gets nn_cos NULL without a reinstatement join
    nn = (
        asg.join(nbr, "cell")
        .groupBy("vec_id")
        .agg(
            F.max(
                F.when(
                    F.col("b_id") != F.col("vec_id"),
                    cosine(F.col("v"), F.col("bv")),
                )
            ).alias("nn_cos")
        )
    )
    binned = (
        nn.select(
            F.when(F.col("nn_cos").isNull(), F.lit(-1))
            .otherwise(
                F.greatest(
                    F.lit(0),
                    F.least(
                        F.lit(_D220_BINS - 1),
                        F.floor(F.col("nn_cos") * _D220_BINS),
                    ),
                ).cast("int")
            )
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # bounded: <= _D220_BINS + 1 histogram rows
    w_tot = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w_cum = W.orderBy(F.col("bin").desc())  # bounded: <= 21 bin rows
    return (
        binned.withColumn("total", F.sum("n").over(w_tot))
        .select(
            "bin",
            pround(
                F.when(F.col("bin") >= 0, F.col("bin") / float(_D220_BINS))
                .otherwise(F.lit(-1.0)),
                4,
            ).alias("bin_lo"),
            F.col("n").cast("long").alias("n"),
            pround(F.col("n") / F.col("total"), 4).alias("share"),
            pround(
                F.sum(
                    F.when(F.col("bin") >= 0, F.col("n")).otherwise(0)
                ).over(w_cum)
                / F.col("total"),
                4,
            ).alias("cum_share_ge"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# A229: product quantization recall audit (PQ codebooks + ADC vs exact)
# ---------------------------------------------------------------------------

_PQ_M = 8        # subspaces (64 dims -> 8 x 8); 8 one-byte codes per vector
_PQ_SUBDIM = 8
_PQ_K = 8        # codes per subspace
_PQ_ITERS = 2    # fixed Lloyd iterations per subspace (d86 discipline)
_PQ_PROBES = 4
_PQ_TOPK = 10




def _pq_oracle() -> str:
    slices = ", ".join(
        f"list_slice(v, {m * _PQ_SUBDIM + 1}, {(m + 1) * _PQ_SUBDIM}) AS s{m + 1}"
        for m in range(_PQ_M)
    )
    sql = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    sub AS (SELECT vec_id, v, {slices} FROM vecs)"""
    for m in range(1, _PQ_M + 1):
        sql += f""",
    cent{m}_0 AS (
        SELECT vec_id AS cid, s{m} AS c FROM sub WHERE vec_id < {_PQ_K}
    )"""
        for it in range(1, _PQ_ITERS + 1):
            d = sql_sqdist(f"sub.s{m}", "c.c", _PQ_SUBDIM)
            sql += f""",
    asg{m}_{it} AS (
        SELECT vec_id, s{m}, cid FROM (
            SELECT sub.vec_id, sub.s{m}, c.cid,
                   row_number() OVER (
                       PARTITION BY sub.vec_id ORDER BY {d}, c.cid
                   ) AS rk
            FROM sub CROSS JOIN cent{m}_{it - 1} c
        ) WHERE rk = 1
    ),
    cent{m}_{it} AS (
        SELECT cid, list(mu ORDER BY pos) AS c FROM (
            SELECT a.cid, t.i AS pos, avg(a.s{m}[t.i]) AS mu
            FROM asg{m}_{it} a, range(1, {_PQ_SUBDIM + 1}) t(i)
            GROUP BY a.cid, t.i
        ) GROUP BY cid
    )"""
        dfin = sql_sqdist(f"sub.s{m}", "c.c", _PQ_SUBDIM)
        sql += f""",
    code{m} AS (
        SELECT vec_id, cid AS code FROM (
            SELECT sub.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY sub.vec_id ORDER BY {dfin}, c.cid
                   ) AS rk
            FROM sub CROSS JOIN cent{m}_{_PQ_ITERS} c
        ) WHERE rk = 1
    ),
    dtab{m} AS (
        SELECT p.vec_id AS probe_id, c.cid AS code,
               {sql_sqdist(f"p.s{m}", "c.c", _PQ_SUBDIM)} AS d
        FROM sub p CROSS JOIN cent{m}_{_PQ_ITERS} c
        WHERE p.vec_id < {_PQ_PROBES}
    )"""
    code_joins = " ".join(
        f"JOIN code{m} c{m} USING (vec_id)" for m in range(2, _PQ_M + 1)
    )
    dtab_joins = " ".join(
        f"JOIN dtab{m} d{m} ON d{m}.code = c.k{m} AND d{m}.probe_id = d1.probe_id"
        for m in range(2, _PQ_M + 1)
    )
    adc_sum = " + ".join(f"d{m}.d" for m in range(1, _PQ_M + 1))
    ks = ", ".join(f"c{m}.code AS k{m}" for m in range(2, _PQ_M + 1))
    de = sql_sqdist("p.v", "q.v", _PQ_M * _PQ_SUBDIM)
    sql += f""",
    codes AS (
        SELECT c1.vec_id, c1.code AS k1, {ks}
        FROM code1 c1 {code_joins}
    ),
    adc AS (
        SELECT d1.probe_id, c.vec_id, {adc_sum} AS adc
        FROM codes c
        JOIN dtab1 d1 ON d1.code = c.k1
        {dtab_joins}
        WHERE c.vec_id <> d1.probe_id
    ),
    adcr AS (
        SELECT probe_id, vec_id, adc,
               row_number() OVER (
                   PARTITION BY probe_id ORDER BY adc, vec_id
               ) AS rka
        FROM adc
    ),
    exr AS (
        SELECT probe_id, vec_id, de,
               row_number() OVER (
                   PARTITION BY probe_id ORDER BY de, vec_id
               ) AS rke
        FROM (
            SELECT p.vec_id AS probe_id, q.vec_id, {de} AS de
            FROM vecs p JOIN vecs q ON q.vec_id <> p.vec_id
            WHERE p.vec_id < {_PQ_PROBES}
        )
    ),
    hits AS (
        SELECT e.probe_id, CAST(count(*) AS INT) AS n_hits
        FROM exr e JOIN adcr a
          ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
             AND a.rka <= {_PQ_TOPK}
        WHERE e.rke <= {_PQ_TOPK}
        GROUP BY e.probe_id
    ),
    nn AS (
        SELECT probe_id, vec_id AS true_nn_id, de AS nn_de
        FROM exr WHERE rke = 1
    )
    SELECT CAST(n.probe_id AS BIGINT) AS probe_id,
           CAST(coalesce(h.n_hits, 0) AS INT) AS n_hits,
           {sql_round(f"coalesce(h.n_hits, 0) * 1.0 / {_PQ_TOPK}", 6)}
               AS recall_at_10,
           CAST(n.true_nn_id AS BIGINT) AS true_nn_id,
           CAST(a.rka AS INT) AS true_nn_adc_rank,
           {sql_round("n.nn_de", 6)} AS true_nn_dist,
           {sql_round("a.adc", 6)} AS true_nn_adc_dist
    FROM nn n
    JOIN adcr a ON a.probe_id = n.probe_id AND a.vec_id = n.true_nn_id
    LEFT JOIN hits h ON h.probe_id = n.probe_id
    ORDER BY probe_id
    """
    return sql




@query("a229_product_quantization", tags=("A229", "D86", "D68", "D184"),
       oracle=_pq_oracle())
def a229_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization recall audit (Jegou/Douze/Schmid, TPAMI
    2011 — public knowledge): learn {_PQ_M} x {_PQ_K} subspace
    codebooks by per-subspace Lloyd's ({_PQ_ITERS} fixed iterations,
    deterministic init = the first {_PQ_K} vectors' sub-vectors — the
    d86 discipline), encode every vector as {_PQ_M} one-byte codes
    (8x compression of the 64-dim float corpus), then answer the
    {_PQ_PROBES} probe queries by asymmetric distance computation
    (ADC: distance = fixed-order sum of per-subspace table lookups)
    and measure recall@{_PQ_TOPK} against the exact squared-L2
    top-{_PQ_TOPK}, plus where ADC ranks each probe's TRUE nearest
    neighbor. The A-row discipline: the approximation error is
    measured and carried in the output (recall ~0.3-0.5 on this
    corpus — these synthetic embeddings have little subspace
    structure, which is exactly what the audit is for), not assumed.

    Fully distributed — unlike d86's driver-literal centroids, the
    codebooks NEVER reach the driver: the corpus is melted once into
    (vector, subspace, sub-vector) rows, every Lloyd iteration is one
    broadcast join against the O(M x K)-row codebook frame + one
    argmin window PARTITIONED by (vector, subspace) + one map-side-
    combined per-dimension mean, and ALL {_PQ_M} subspaces train in
    the same jobs (subspace is just a key). Encoding reuses the same
    join shape; ADC pivots the per-subspace lookup onto columns and
    sums in FIXED order (never a float groupBy over subspaces, whose
    sum order is engine-specific). At 100 TB: codebooks are KBs
    (broadcast), the corpus is touched {_PQ_ITERS} times for training
    (persist() the melt on a real cluster) plus ONE encode pass that
    flows straight into the ADC rank table; the two per-probe rank
    tables (approximate and exact) are each materialized ONCE behind a
    checkpoint — they both feed two consumers (recall hits + the NN
    rank join), which the r15 shape recomputed corpus-scale twice —
    and the two independent checkpoint jobs overlap from a thread
    pool (guide §2.6); the probe side is the documented d68
    bounded-BNLJ eval class (production serving takes TakeOrdered
    top-k; the exact side IS d68's brute-force baseline and pays its
    own two scans).

    Cross-engine determinism: every distance is the shared
    sequential-fold squared-L2 (0.0-init left fold == DuckDB's
    no-init list_reduce, the sql_dot precedent); centroid means
    replay the d86 avg-per-dimension CTE; argmin/rank ties break on
    code id / vec_id identically (min-over-struct == ORDER BY d, cid
    LIMIT 1)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    emb = emb.persist()
    melted = emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("v", m * _PQ_SUBDIM + 1, _PQ_SUBDIM)
                    for m in range(_PQ_M)
                ]
            )
        ).alias("sp", "s"),
    ).persist()

    sqd = sqdist(F.col("s"), F.col("c"))
    w_asg = W.partitionBy("vec_id", "sp").orderBy(
        F.col("d").asc(), F.col("cid").asc()
    )

    def assign(cent: DataFrame) -> DataFrame:
        """(vec_id, sp, s, cid): nearest codebook entry per sub-vector
        — one broadcast join + one high-cardinality-key window."""
        return (
            melted.join(F.broadcast(cent), "sp")
            .select("vec_id", "sp", "s", "cid", sqd.alias("d"))
            .withColumn("rk", F.row_number().over(w_asg))
            .filter(F.col("rk") == 1)
        )

    cent = melted.filter(F.col("vec_id") < _PQ_K).select(
        "sp", F.col("vec_id").alias("cid"), F.col("s").alias("c")
    )
    for _ in range(_PQ_ITERS):
        cent = (
            assign(cent)
            .select("sp", "cid", F.posexplode("s").alias("pos", "val"))
            .groupBy("sp", "cid", "pos")
            .agg(F.avg("val").alias("mu"))
            .groupBy("sp", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("pm"))
            .select("sp", "cid", F.col("pm.mu").alias("c"))
        )
    # cut the 2-generation training lineage once: the O(M x K)-row
    # codebook is re-read by the encode join AND the probe table
    from ..session import reliable_checkpoint

    cent = reliable_checkpoint(cent)

    # encode lazily: the codes flow straight into the ADC rank table,
    # which is the frame that actually has two consumers (r16 — the
    # r15 shape checkpointed the single-consumer codes table and then
    # recomputed the ADC join+pivot+window TWICE inside the output
    # action, once under `hits` and once under the final rank join)
    enc = assign(cent).select("vec_id", "sp", F.col("cid").alias("code"))
    dtab = (
        melted.filter(F.col("vec_id") < _PQ_PROBES)
        .withColumnRenamed("vec_id", "probe_id")
        .join(F.broadcast(cent), "sp")
        .select("probe_id", "sp", "cid", sqd.alias("d"))
    )
    # pivot the per-subspace lookups onto columns so the ADC total is a
    # FIXED-ORDER M-term sum, never a float groupBy over subspaces
    adc_parts = enc.join(
        F.broadcast(dtab),
        (enc["sp"] == dtab["sp"]) & (enc["code"] == dtab["cid"]),
    ).select(enc["vec_id"], dtab["probe_id"], enc["sp"], dtab["d"])
    adc_wide = adc_parts.groupBy("vec_id", "probe_id").agg(
        *[
            F.max(F.when(F.col("sp") == m, F.col("d"))).alias(f"d{m + 1}")
            for m in range(_PQ_M)
        ]
    )
    adc_col = F.col("d1")
    for m in range(2, _PQ_M + 1):
        adc_col = adc_col + F.col(f"d{m}")
    w_adc = W.partitionBy("probe_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    adcr = (
        adc_wide.filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", adc_col.alias("adc"))
        .withColumn("rka", F.row_number().over(w_adc))
    )
    exact_pairs = emb.join(
        F.broadcast(
            emb.filter(F.col("vec_id") < _PQ_PROBES).select(
                F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
            )
        ),
        F.col("vec_id") != F.col("probe_id"),
    )
    de = sqdist(F.col("v"), F.col("pv"))
    w_ex = W.partitionBy("probe_id").orderBy(F.col("de").asc(), F.col("vec_id").asc())
    exr = (
        exact_pairs.select("probe_id", "vec_id", de.alias("de"))
        .withColumn("rke", F.row_number().over(w_ex))
    )
    # adcr and exr each feed TWO consumers below (hits + the rank/nn
    # joins); materialize each ONCE and cut lineage there, and since
    # the two chains are independent (adcr reads codes+codebook, exr
    # reads only the cached corpus) overlap the two checkpoint jobs
    # from a thread pool (guide §2.6, the d184 write-overlap pattern).
    # The r15 shape recomputed both corpus-scale chains twice inside
    # the single output action.
    from concurrent.futures import ThreadPoolExecutor

    from ..session import join_futures

    ckpt: dict[str, DataFrame] = {}
    with ThreadPoolExecutor(max_workers=2) as _pool:
        join_futures(
            [
                _pool.submit(lambda: ckpt.__setitem__("adcr", reliable_checkpoint(adcr))),
                _pool.submit(lambda: ckpt.__setitem__("exr", reliable_checkpoint(exr))),
            ]
        )
    adcr, exr = ckpt["adcr"], ckpt["exr"]
    hits = (
        exr.filter(F.col("rke") <= _PQ_TOPK)
        .join(
            F.broadcast(
                adcr.filter(F.col("rka") <= _PQ_TOPK).select("probe_id", "vec_id")
            ),
            ["probe_id", "vec_id"],
        )
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_hits"))
    )
    nn = exr.filter(F.col("rke") == 1).select(
        "probe_id", F.col("vec_id").alias("true_nn_id"), F.col("de").alias("nn_de")
    )
    # the per-probe rank tables are materialized behind the two
    # checkpoints; drop the caches so the shared session doesn't
    # accumulate blocks across the bench inventory (d86 discipline)
    melted.unpersist()
    emb.unpersist()
    return (
        adcr.select(
            "probe_id",
            F.col("vec_id").alias("true_nn_id"),
            F.col("adc").alias("nn_adc"),
            F.col("rka").alias("nn_adc_rank"),
        )
        .join(F.broadcast(nn), ["probe_id", "true_nn_id"])
        .join(F.broadcast(hits), "probe_id", "left")
        .select(
            F.col("probe_id").cast("long").alias("probe_id"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("int").alias("n_hits"),
            pround(
                F.coalesce(F.col("n_hits"), F.lit(0)) * 1.0 / _PQ_TOPK, 6
            ).alias("recall_at_10"),
            F.col("true_nn_id").cast("long").alias("true_nn_id"),
            F.col("nn_adc_rank").cast("int").alias("true_nn_adc_rank"),
            pround("nn_de", 6).alias("true_nn_dist"),
            pround("nn_adc", 6).alias("true_nn_adc_dist"),
        )
        .orderBy("probe_id")
    )
