"""Iterative graph analytics over relational edges (SURVEY §2.2 D97).

PageRank over the customer↔supplier trade graph — the third iterative
algorithm shape in the engine next to connected components (D74,
label propagation) and k-means (D86, centroid refinement). Where D74's
per-round state is a min-label and D86's is k broadcast centroids,
PageRank carries an O(V) double per node and reduces O(E)
contributions per round: the general "join ranks to edges, re-group by
destination" pattern every Pregel-style computation lowers to on
Spark.

The reference has no graph surface; this is part of the mandated
analytic extension.

Scale notes (mirrors D74's hardening): the edge list is materialized
ONCE (persisted); every iteration BROADCASTS the O(V) rank/degree
tables against it, so the O(E) edges are never shuffled or re-sorted
after materialization, and per-round driver traffic is the O(V)
broadcast build only (no row-scale collects — the loop is a fixed 3
unrolled plan segments). When V outgrows the broadcast budget, the
src-partitioned persist + sort-merge formulation replaces it (see
pagerank_plan). The oracle replays the identical 3 iterations as a
DuckDB CTE chain in DOUBLE; outputs are portable-rounded at 6
decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import pround, sql_round
from ..registry import query

_PR_ITERS = 3
_DAMP = 0.85


def _pr_oracle() -> str:
    cte = [
        """
    pairs AS (
        SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS r FROM deg)"""
    ]
    for t in range(_PR_ITERS):
        cte.append(
            f"""
    c{t} AS (
        SELECT r{t}.node, r{t}.r / d.outdeg AS c
        FROM r{t} JOIN deg d ON r{t}.node = d.src
    ),
    r{t + 1} AS (
        SELECT e.dst AS node, {1 - _DAMP} + {_DAMP} * sum(c{t}.c) AS r
        FROM edges e JOIN c{t} ON e.src = c{t}.node
        GROUP BY e.dst
    )"""
        )
    return (
        "WITH "
        + ",".join(cte)
        + f"""
    SELECT node, {sql_round("r", 6)} AS pr
    FROM r{_PR_ITERS} ORDER BY node
    """
    )


def pagerank_plan(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Build the LAZY PageRank plan; returns (final ranks DF, persisted
    edges DF). Split from d97_pagerank so the per-iteration plan shape
    is auditable (tests/test_plans.py) even though the registered query
    materializes eagerly to release the edges cache."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Long node ids (customer 2k, supplier 2k+1) keep every iteration's
    # join/agg on 8-byte keys; the 'c…'/'s…' labels the oracle compares
    # against are minted ONCE in the final O(V) projection (r04 — the
    # r03 string keys made each iteration hash/compare ~1.2M strings,
    # ~40% of the per-round cost at sf0.1).
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    # the union doubles the partition count of the distinct's shuffle
    # output; compact the cache so each iteration is ~32 scan tasks,
    # not 128 slivers
    edges = edges.coalesce(32)
    # One materialization serves deg + every iteration's join. persist
    # (not checkpoint): the iteration count is FIXED at 3, so lineage
    # depth is bounded and recomputable-on-loss caching is enough — an
    # unbounded-round loop (d74) needs the checkpoint-interval pattern
    # instead. No repartition: the iteration joins BROADCAST the O(V)
    # side, so no edge layout is ever needed (r04 — the r03 layout
    # pre-shuffled edges on src and still paid a per-iteration SMJ sort
    # of the cached O(E) table; broadcasting the rank side removes both
    # the extra shuffle and the three sorts, 5.9 s → ~2.5 s at sf0.1).
    # When V outgrows the broadcast budget (≈1e8 nodes at 8 B/rank),
    # swap to the src-partitioned persist + sort-merge formulation —
    # that layout is the right one exactly when the broadcast isn't.
    from pyspark.storagelevel import StorageLevel

    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("r"))
    for _ in range(_PR_ITERS):
        contrib = ranks.join(F.broadcast(deg), ranks.node == deg.src).select(
            F.col("node"), (F.col("r") / F.col("outdeg")).alias("c")
        )
        ranks = (
            edges.join(F.broadcast(contrib), edges.src == contrib.node)
            .groupBy(F.col("dst").alias("node"))
            .agg((F.lit(1 - _DAMP) + F.lit(_DAMP) * F.sum("c")).alias("r"))
        )
    label = F.when(
        F.col("node") % 2 == 0, F.concat(F.lit("c"), (F.col("node") / 2).cast("long"))
    ).otherwise(F.concat(F.lit("s"), ((F.col("node") - 1) / 2).cast("long")))
    return ranks.select(label.alias("node"), pround("r", 6).alias("pr")), edges


@query("d97_pagerank", tags=("D97", "D74", "D86"), oracle=_pr_oracle())
def d97_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 fixed iterations, rank₀ = 1.0) over the
    symmetrized customer↔supplier graph: an edge per distinct
    (customer, supplier) trade pair in both directions, so every node
    has out-degree ≥ 1 and the dangling-mass term vanishes.

    Per iteration: contributions = ranks ⋈ broadcast(degrees) (two
    O(V) tables, node-keyed), then a broadcast-hash join of the
    persisted edges against the O(V) contributions and a partial-agg
    re-group by dst — the only per-iteration shuffle is the O(V)
    aggregated rank table. Nothing O(E) ever moves after the one-time
    edge materialization, and nothing row-scale reaches the driver
    beyond the broadcast builds.

    Materializes the O(V) rank table through the final plan to JVM-side
    scratch, then releases the cached O(E) edges (d74's discipline —
    returning a lazy plan over the persisted edges would leak the cache
    for the session lifetime and skew long one-JVM bench sweeps)."""
    from ..operators.loopstate import scratch_dir

    result, edges = pagerank_plan(spark, sf_dir)
    out_dir = scratch_dir("pr_ranks")
    result.write.parquet(out_dir)
    edges.unpersist()
    return spark.read.parquet(out_dir).orderBy("node")
