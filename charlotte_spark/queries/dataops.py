"""Large-scale data-engineering operators (SURVEY §2.2 D137-D142):
time-series gap-fill, graph motifs, drift tests, privacy audits,
constraint validation, and storage-layout optimization.

The reference has no surface for any of these — its pipeline trusts
upstream unified2 framing and writes rows as they arrive
(/root/reference/charlotte/__init__.py:463-538, no validation pass,
no layout control beyond MySQL's clustered PK). These rows are part of
the mandated analytic/training-data extension: the checks a 100 TB
curation pipeline runs BEFORE data is trusted (D139-D141), the repairs
it runs on telemetry gaps (D137), the motif statistics that
characterize interaction graphs (D138), and the file-layout decision
that makes every later range query cheaper (D142).

Scale notes are per-operator; the common thread is single-lineage
formulations (Catalyst re-executes shared subtrees across branches —
see charlotte-spark perf note in BASELINE.md) and shuffles that reuse
one key partitioning end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import pround, sql_round
from ..operators.loopstate import LoopState
from ..operators.prefix import ordered_prefix
from ..registry import query
from ..session import reliable_checkpoint

# ---------------------------------------------------------------------------
# D137: time-series resample + gap-fill (forward fill and linear interp)
# ---------------------------------------------------------------------------

_HOUR_US = 3_600_000_000


@query(
    "d137_gapfill_interpolate",
    tags=("D137", "D34", "D115"),
    oracle=f"""
    WITH hourly AS (
        SELECT user_id, epoch_us(ts) // {_HOUR_US} AS hb, avg(value) AS v
        FROM events GROUP BY user_id, hb
    ),
    lagged AS (
        SELECT user_id, hb, v,
               lag(hb) OVER (PARTITION BY user_id ORDER BY hb) AS phb,
               lag(v)  OVER (PARTITION BY user_id ORDER BY hb) AS pv
        FROM hourly
    ),
    contrib AS (
        SELECT user_id, 1 AS is_obs, v AS ffill, v AS lerp FROM lagged
        UNION ALL
        SELECT user_id, 0 AS is_obs, pv AS ffill,
               pv + (v - pv) * (gb - phb) / (hb - phb) AS lerp
        FROM lagged, unnest(generate_series(phb + 1, hb - 1)) AS g(gb)
        WHERE phb IS NOT NULL AND hb - phb > 1
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(is_obs) AS BIGINT) AS n_obs,
           CAST(sum(1 - is_obs) AS BIGINT) AS n_gaps,
           {sql_round("sum(ffill)", 4)} AS ffill_sum,
           {sql_round("sum(lerp)", 4)} AS lerp_sum
    FROM contrib GROUP BY user_id ORDER BY user_id
    """,
)
def d137_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly resampling with gap-fill: every missing hour
    between a user's first and last observation is materialized and
    filled two ways — forward-fill (last observation carried forward)
    and linear interpolation between the bracketing observations — then
    digested per user (bucket/gap counts + the sums of both filled
    series). This is the repair step telemetry pipelines run before any
    fixed-step model sees the data.

    Plan shape — the JOIN-FREE formulation: the naive version generates
    a dense per-user hour spine and left-joins observations onto it
    (one extra shuffle + a join whose right side is mostly misses).
    Instead, one ``lag`` window over the hourly aggregate exposes each
    gap as a (prev, next) pair, and ``explode(sequence(phb+1, hb-1))``
    emits exactly the missing buckets map-side, with both fill values
    computed from columns already on the row. Three shuffles total, all
    keyed by user_id: the hourly partial agg, the lag window, the final
    digest. At 100 TB the spine join's shuffle of |users|·|hours| dense
    rows never happens — only real gaps are ever materialized."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select(
            "user_id",
            # cast: parquet NTZ -> LTZ is identity under the pinned UTC session
            F.expr(f"unix_micros(cast(ts as timestamp)) div {_HOUR_US}").alias("hb"),
            "value",
        )
        .groupBy("user_id", "hb")
        .agg(F.avg("value").alias("v"))
    )
    w = W.partitionBy("user_id").orderBy("hb")
    lagged = hourly.select(
        "user_id",
        "hb",
        "v",
        F.lag("hb").over(w).alias("phb"),
        F.lag("v").over(w).alias("pv"),
    )
    observed = lagged.select(
        "user_id",
        F.lit(1).alias("is_obs"),
        F.col("v").alias("ffill"),
        F.col("v").alias("lerp"),
    )
    gaps = (
        lagged.filter(F.col("phb").isNotNull() & (F.col("hb") - F.col("phb") > 1))
        .select(
            "user_id",
            "phb",
            "pv",
            "hb",
            "v",
            F.explode(F.sequence(F.col("phb") + 1, F.col("hb") - 1)).alias("gb"),
        )
        .select(
            "user_id",
            F.lit(0).alias("is_obs"),
            F.col("pv").alias("ffill"),
            (
                F.col("pv")
                + (F.col("v") - F.col("pv"))
                * (F.col("gb") - F.col("phb"))
                / (F.col("hb") - F.col("phb"))
            ).alias("lerp"),
        )
    )
    return (
        observed.unionByName(gaps)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("is_obs").cast("long").alias("n_obs"),
            F.sum(1 - F.col("is_obs")).cast("long").alias("n_gaps"),
            pround(F.sum("ffill"), 4).alias("ffill_sum"),
            pround(F.sum("lerp"), 4).alias("lerp_sum"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# D138: triangle counting / global clustering coefficient
# ---------------------------------------------------------------------------

_TRI_BUCKET_US = 600_000_000  # 10-minute co-activity buckets


@query(
    "d138_triangle_count",
    tags=("D138", "D97", "D74"),
    oracle=f"""
    WITH ub AS (
        SELECT DISTINCT user_id, event_type, epoch_us(ts) // {_TRI_BUCKET_US} AS b
        FROM events
    ),
    e AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM ub a JOIN ub b
          ON a.b = b.b AND a.event_type = b.event_type AND a.user_id < b.user_id
    ),
    deg AS (
        SELECT n, count(*) AS d
        FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY n
    ),
    tri AS (
        SELECT count(*) AS t
        FROM e e1 JOIN e e2 ON e1.v = e2.u
                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(d) / 2 AS BIGINT) AS n_edges,
           CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges,
           CAST(any_value(t) AS BIGINT) AS n_triangles,
           {sql_round("3.0 * any_value(t) / sum(d * (d - 1) / 2)", 6)}
               AS transitivity
    FROM deg CROSS JOIN tri
    """,
)
def d138_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the user
    co-activity graph (users linked when they emit the same event type
    in the same 10-minute bucket) — the standard motif statistic for
    community structure, fraud rings, and bot detection.

    Plan shape — DEGREE-ORDERED orientation (the MapReduce triangle
    classic): each undirected edge is oriented from its lower-(degree,
    id) endpoint to the higher, so every node's out-degree is bounded
    by ~sqrt(2E) and every triangle is generated exactly once, as a
    wedge at its lowest-ranked vertex. Measured here at sf0.1 that cuts
    the wedge stream 58.6M -> 17.6M (3.3x) before the closure join.
    The deduplicated edge list is checkpointed once
    (reliable_checkpoint — recomputable DFS copy, not a pinned block)
    because three consumers (degree stats, orientation, closure probe)
    would otherwise each re-run the bucket self-join; the O(V) degree
    table is BROADCAST onto the edges (same budget class as D97's rank
    vector), while the O(E) closure probe is an UNHINTED (w1, w2)
    equi-join — AQE broadcasts it only when the runtime size allows,
    sort-merges otherwise — so the big shuffles after the build are the
    wedge self-join on the oriented source key and (at scale) the
    closure join on the wedge endpoints. At
    100 TB the same orientation bounds the skew: a celebrity node with
    degree 10^6 contributes wedges only at the vertices that out-rank
    it, never deg^2 at itself."""
    e = load_table(spark, sf_dir, "events")
    ub = e.select(
        "user_id",
        "event_type",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_TRI_BUCKET_US}").alias("b"),
    ).distinct()
    a, bb = ub.alias("a"), ub.alias("b")
    edges = reliable_checkpoint(
        a.join(
            bb,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
        .coalesce(16)
    )
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    graph_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    # orient: src = lower (deg, id) endpoint; keep dst's rank key for the
    # wedge ordering below
    du, dv = deg.alias("du"), deg.alias("dv")
    keyed = (
        edges.join(F.broadcast(du), F.col("u") == F.col("du.n"))
        .join(F.broadcast(dv), F.col("v") == F.col("dv.n"))
        .select("u", "v", F.col("du.d").alias("d_u"), F.col("dv.d").alias("d_v"))
    )
    u_first = (F.col("d_u") < F.col("d_v")) | (
        (F.col("d_u") == F.col("d_v")) & (F.col("u") < F.col("v"))
    )
    oriented = keyed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("d_v")).otherwise(F.col("d_u")).alias("d_dst"),
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (
            (F.col("e1.d_dst") < F.col("e2.d_dst"))
            | (
                (F.col("e1.d_dst") == F.col("e2.d_dst"))
                & (F.col("e1.dst") < F.col("e2.dst"))
            )
        ),
    ).select(F.col("e1.dst").alias("w1"), F.col("e2.dst").alias("w2"))
    # Closure probe: equi-join wedges onto the oriented edge list keyed
    # by (w1, w2) — NO broadcast hint. The edge list is O(E) (fact-
    # sized), so forcing it onto every executor is a scale-killer; left
    # unhinted, AQE picks broadcast only when the build side measures
    # small at runtime and sort-merge otherwise.
    closed = wedges.join(
        oriented.select(F.col("src").alias("w1"), F.col("dst").alias("w2")),
        ["w1", "w2"],
        "inner",
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    return graph_stats.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        pround(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
            "transitivity"
        ),
    )


# ---------------------------------------------------------------------------
# D139: Kolmogorov-Smirnov two-sample drift test
# ---------------------------------------------------------------------------

_KS_ALPHA_COEF = 1.35810  # c(alpha) for alpha = 0.05


@query(
    "d139_ks_drift",
    tags=("D139", "D113", "D35"),
    oracle=f"""
    WITH s AS (
        SELECT value AS v, CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS s1
        FROM events
    ),
    g AS (SELECT v, sum(s1) AS c1, sum(1 - s1) AS c2 FROM s GROUP BY v),
    c AS (
        SELECT sum(c1) OVER (ORDER BY v) AS r1,
               sum(c2) OVER (ORDER BY v) AS r2,
               sum(c1) OVER () AS n1,
               sum(c2) OVER () AS n2
        FROM g
    )
    SELECT CAST(any_value(n1) AS BIGINT) AS n1,
           CAST(any_value(n2) AS BIGINT) AS n2,
           {sql_round("max(abs(r1 / n1 - r2 / n2))", 6)} AS ks_stat,
           {sql_round(f"{_KS_ALPHA_COEF} * sqrt((any_value(n1) + any_value(n2)) / (any_value(n1) * any_value(n2)))", 6)}
               AS ks_crit,
           CAST(CASE WHEN max(abs(r1 / n1 - r2 / n2)) >
                {_KS_ALPHA_COEF} * sqrt((any_value(n1) + any_value(n2))
                                        / (any_value(n1) * any_value(n2)))
                THEN 1 ELSE 0 END AS INT) AS drift
    FROM c
    """,
)
def d139_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test between the first and
    second half-month of the event stream: D = max |F1(x) - F2(x)| over
    the pooled empirical CDFs, compared against the alpha=0.05
    asymptotic critical value c(a)*sqrt((n1+n2)/(n1*n2)). This is the
    monitoring check that decides whether a feature's distribution has
    shifted enough to retrain.

    Plan shape — SINGLE lineage: one partial-agg groupBy collapses the
    stream to per-distinct-value counts for both samples, then the
    two-phase distributed prefix sum (``operators.prefix``: range
    repartition on v, per-bucket running sums, broadcast cumulative
    offsets — the D35 pattern) turns counts into running CDFs with the
    grand totals carried on the same pass, and one global agg takes the
    max gap. No single-partition sort anywhere: the only bounded-input
    window is over the n_parts per-bucket totals."""
    e = load_table(spark, sf_dir, "events")
    s = e.select(
        F.col("value").alias("v"),
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("s1"),
    )
    g = s.groupBy("v").agg(
        F.sum("s1").alias("c1"), F.sum(1 - F.col("s1")).alias("c2")
    )
    c = ordered_prefix(
        g,
        ["v"],
        running={"r1": "c1", "r2": "c2"},
        totals={"n1": "c1", "n2": "c2"},
    )
    gap = F.abs(F.col("r1") / F.col("n1") - F.col("r2") / F.col("n2"))
    crit = F.lit(_KS_ALPHA_COEF) * F.sqrt(
        (F.any_value("n1") + F.any_value("n2")) / (F.any_value("n1") * F.any_value("n2"))
    )
    return c.agg(
        F.any_value("n1").cast("long").alias("n1"),
        F.any_value("n2").cast("long").alias("n2"),
        pround(F.max(gap), 6).alias("ks_stat"),
        pround(crit, 6).alias("ks_crit"),
        (F.max(gap) > crit).cast("int").alias("drift"),
    )


# ---------------------------------------------------------------------------
# D140: k-anonymity audit with one generalization step
# ---------------------------------------------------------------------------

_K_THRESHOLD = 10


@query(
    "d140_k_anonymity",
    tags=("D140", "D88", "D27"),
    oracle=f"""
    WITH cls AS (
        SELECT o_orderstatus AS s, o_orderpriority AS p,
               month(o_orderdate) AS m, count(*) AS c
        FROM orders GROUP BY s, p, m
    ),
    w AS (SELECT c, sum(c) OVER (PARTITION BY s, p) AS c2 FROM cls)
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(c) AS BIGINT) AS k_fine,
           CAST(sum(CASE WHEN c < {_K_THRESHOLD} THEN c ELSE 0 END) AS BIGINT)
               AS n_suppressed,
           {sql_round(f"sum(CASE WHEN c < {_K_THRESHOLD} THEN c ELSE 0 END) / sum(c)", 6)}
               AS suppression_pct,
           CAST(min(c2) AS BIGINT) AS k_coarse
    FROM w
    """,
)
def d140_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (status,
    priority, order month): the minimum equivalence-class size k, how
    many rows a suppress-below-k policy would drop, and the k achieved
    by one generalization step (dropping the month column) — the
    release-or-generalize decision every privacy review of a shared
    dataset runs. Complements D88 (PII redaction), which masks direct
    identifiers; k-anonymity is about the QUASI-identifiers left
    behind.

    Plan shape: one partial-agg groupBy builds the fine equivalence
    classes; the coarser generalization is a window SUM over the class
    table partitioned by the coarse key — min(c2) over class rows IS
    the coarse k, so the generalization ladder costs zero extra scans
    of the fact table (the class table is |classes| rows, microscopic).
    At 100 TB a deeper ladder (year -> quarter -> month) is the same
    window stacked per rung, still one fact scan total."""
    o = load_table(spark, sf_dir, "orders")
    cls = o.groupBy(
        F.col("o_orderstatus").alias("s"),
        F.col("o_orderpriority").alias("p"),
        F.month("o_orderdate").alias("m"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = cls.select("c", F.sum("c").over(W.partitionBy("s", "p")).alias("c2"))
    supp = F.sum(F.when(F.col("c") < _K_THRESHOLD, F.col("c")).otherwise(0))
    return w.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("c").cast("long").alias("k_fine"),
        supp.cast("long").alias("n_suppressed"),
        pround(supp / F.sum("c"), 6).alias("suppression_pct"),
        F.min("c2").cast("long").alias("k_coarse"),
    )


# ---------------------------------------------------------------------------
# D141: declarative constraint / expectation audit
# ---------------------------------------------------------------------------


@query(
    "d141_constraint_audit",
    tags=("D141", "D10", "D18"),
    oracle="""
    WITH l AS (
        SELECT l.*, o.o_orderkey AS hit
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    o_checks AS (
        SELECT count(*) AS n,
               count(*) - count(DISTINCT o_orderkey) AS pk_dup,
               sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS status_bad,
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS cust_null,
               sum(CASE WHEN o_totalprice <= 0 OR o_totalprice > 400000 THEN 1 ELSE 0 END) AS price_oob,
               sum(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END) AS stale
        FROM orders
    ),
    l_checks AS (
        SELECT count(*) AS n,
               sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS qty_oob,
               sum(CASE WHEN l_discount < 0 OR l_discount > 0.08 THEN 1 ELSE 0 END) AS disc_oob,
               sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS flag_bad,
               sum(CASE WHEN hit IS NULL THEN 1 ELSE 0 END) AS orphans
        FROM l
    ),
    rows_out AS (
        SELECT 'orders.pk_unique' AS check_name, n, pk_dup AS v FROM o_checks
        UNION ALL SELECT 'orders.status_domain', n, status_bad FROM o_checks
        UNION ALL SELECT 'orders.custkey_not_null', n, cust_null FROM o_checks
        UNION ALL SELECT 'orders.price_range', n, price_oob FROM o_checks
        UNION ALL SELECT 'orders.freshness_1996', n, stale FROM o_checks
        UNION ALL SELECT 'lineitem.qty_range', n, qty_oob FROM l_checks
        UNION ALL SELECT 'lineitem.discount_le_8pct', n, disc_oob FROM l_checks
        UNION ALL SELECT 'lineitem.returnflag_domain', n, flag_bad FROM l_checks
        UNION ALL SELECT 'lineitem.fk_orders', n, orphans FROM l_checks
    )
    SELECT check_name, CAST(n AS BIGINT) AS n_checked,
           CAST(v AS BIGINT) AS n_violations,
           CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS INT) AS passed
    FROM rows_out ORDER BY check_name
    """,
)
def d141_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (the dbt-test / Deequ /
    Great-Expectations shape): nine expectations — primary-key
    uniqueness, domain membership, not-null, numeric ranges, a
    freshness window, and referential integrity — evaluated to one
    (check_name, n_checked, n_violations, passed) row each. Thresholds
    are chosen so the suite is NON-vacuous in both directions: the
    price-range and freshness checks genuinely fail on this data, the
    rest genuinely pass.

    Plan shape: ALL row-level checks for a table fold into ONE
    conditional-sum aggregate over ONE scan — five orders checks ride
    one pass (the PK-uniqueness count(distinct) plans as Catalyst's
    expand + two-phase agg, still one scan), and referential integrity
    is an UNHINTED LEFT join of lineitem onto the key-pruned orders
    projection — the planner broadcasts it at small SF and sort-merges
    at scale, never a forced O(fact) broadcast — so the four lineitem
    checks INCLUDING the FK orphan count also ride one pass. The
    per-check rows are exploded from the single aggregate row map-side.
    At 100 TB this is one full scan per fact table plus a key-pruned
    orders scan for the FK side — a naive suite runs 9 full scans."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def cnt(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0))

    o_checks = o.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("pk_dup"),
        cnt(~F.col("o_orderstatus").isin("F", "O", "P")).alias("status_bad"),
        cnt(F.col("o_custkey").isNull()).alias("cust_null"),
        cnt(
            (F.col("o_totalprice") <= 0) | (F.col("o_totalprice") > 400000)
        ).alias("price_oob"),
        cnt(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")).alias(
            "stale"
        ),
    )
    # FK build side: key-pruned orders, NO broadcast hint — the build
    # is O(orders) (fact-sized at 100 TB), so the strategy must stay
    # size-gated: the static planner/AQE broadcasts at small SF and
    # sort-merges at scale. Hinting it would pin O(fact) bytes onto
    # every executor.
    l_checks = (
        li.join(
            o.select(F.col("o_orderkey").alias("hit")),
            li.l_orderkey == F.col("hit"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            cnt((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias(
                "qty_oob"
            ),
            cnt((F.col("l_discount") < 0) | (F.col("l_discount") > 0.08)).alias(
                "disc_oob"
            ),
            cnt(~F.col("l_returnflag").isin("A", "N", "R")).alias("flag_bad"),
            cnt(F.col("hit").isNull()).alias("orphans"),
        )
    )

    def expand(agg_df: DataFrame, checks: list[tuple[str, str]]) -> DataFrame:
        pairs = F.array(
            *[
                F.struct(
                    F.lit(name).alias("check_name"), F.col(col).alias("v")
                )
                for name, col in checks
            ]
        )
        return agg_df.select("n", F.explode(pairs).alias("x")).select(
            F.col("x.check_name").alias("check_name"),
            F.col("n").cast("long").alias("n_checked"),
            F.col("x.v").cast("long").alias("n_violations"),
            (F.col("x.v") == 0).cast("int").alias("passed"),
        )

    return (
        expand(
            o_checks,
            [
                ("orders.pk_unique", "pk_dup"),
                ("orders.status_domain", "status_bad"),
                ("orders.custkey_not_null", "cust_null"),
                ("orders.price_range", "price_oob"),
                ("orders.freshness_1996", "stale"),
            ],
        )
        .unionByName(
            expand(
                l_checks,
                [
                    ("lineitem.qty_range", "qty_oob"),
                    ("lineitem.discount_le_8pct", "disc_oob"),
                    ("lineitem.returnflag_domain", "flag_bad"),
                    ("lineitem.fk_orders", "orphans"),
                ],
            )
        )
        .orderBy("check_name")
    )


# ---------------------------------------------------------------------------
# D142: Z-order (Morton) layout vs linear sort — file-skipping audit
# ---------------------------------------------------------------------------

_Z_FILES = 64
_Z_BITS = 8  # 256 buckets per dimension
_DAY_US = 86_400_000_000


def _interleave_sql(xe: str, ye: str, dialect: str) -> str:
    """Morton-interleave two _Z_BITS-bit ints — same arithmetic in both
    dialects (Spark spells shifts as functions, DuckDB as operators)."""
    terms = []
    for i in range(_Z_BITS):
        if dialect == "spark":
            terms.append(f"shiftleft(shiftright({xe}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({ye}, {i}) & 1, {2 * i + 1})")
        else:
            # outer parens are load-bearing: DuckDB binds `+` TIGHTER than
            # `<<`, so unparenthesized terms chain into one giant shift
            terms.append(f"(((({xe}) >> {i}) & 1) << {2 * i})")
            terms.append(f"(((({ye}) >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "d142_zorder_layout",
    tags=("D142", "D84", "D38"),
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               o_custkey % 256 AS x,
               (epoch_us(o_orderdate) // {_DAY_US}) % 256 AS y
        FROM orders
    ),
    t AS (
        SELECT x, y,
               ntile({_Z_FILES}) OVER (ORDER BY {_interleave_sql("x", "y", "duckdb")}, o_orderkey) AS zf,
               ntile({_Z_FILES}) OVER (ORDER BY x, y, o_orderkey) AS lf
        FROM base
    ),
    layouts AS (
        SELECT 'z' AS layout, zf AS f, x, y FROM t
        UNION ALL
        SELECT 'lin' AS layout, lf AS f, x, y FROM t
    ),
    ext AS (
        SELECT layout, f, min(x) AS mnx, max(x) AS mxx,
               min(y) AS mny, max(y) AS mxy,
               sum(CASE WHEN x BETWEEN 64 AND 127 AND y BETWEEN 64 AND 127
                        THEN 1 ELSE 0 END) AS nr
        FROM layouts GROUP BY layout, f
    )
    SELECT CAST(count(DISTINCT f) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN layout = 'z' AND mnx <= 127 AND mxx >= 64
                          AND mny <= 127 AND mxy >= 64 THEN 1 ELSE 0 END)
                AS BIGINT) AS files_hit_zorder,
           CAST(sum(CASE WHEN layout = 'lin' AND mnx <= 127 AND mxx >= 64
                          AND mny <= 127 AND mxy >= 64 THEN 1 ELSE 0 END)
                AS BIGINT) AS files_hit_linear,
           CAST(sum(CASE WHEN layout = 'z' THEN nr ELSE 0 END) AS BIGINT)
               AS n_rows_rect
    FROM ext
    """,
)
def d142_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering audit: bucket orders into a
    256x256 (customer-bucket, day-bucket) grid, Morton-interleave the
    bucket bits, split the table into 64 'files' two ways — z-value
    order vs plain lexicographic (x, y) order — and count how many
    files a 2-D range query (the middle quarter of each dimension)
    would have to read under each layout, given per-file min/max
    column statistics. This is the OPTIMIZE ZORDER BY decision data
    lakehouses make, reduced to its measurable core: multi-dimensional
    locality means fewer files overlap any 2-D rectangle.

    Plan shape (r15 rework — guide §2.4, the d219 precedent): the ntile
    ranks order by (z, o_orderkey) and (x, y, o_orderkey), but z is a
    BIJECTION of the 256x256 grid cell and every row of a cell shares
    (x, y) — so a file's extent depends only on WHICH cells intersect
    its rank range, never on which individual rows do, and the in-rect
    row total is layout-independent (every row lands in exactly one
    z-file). The query therefore aggregates orders to per-cell counts
    FIRST (one partial-agg shuffle onto a frame bounded by the
    65,536-cell grid, not by the data), computes the Morton key as a
    pure projection on cells (16 shift/mask terms, whole-stage
    codegen'd), derives each cell's contiguous rank span per ordering
    from prefix sums over the bounded cell frame (single-partition
    windows are safe here EXACTLY because the frame is grid-bounded —
    # bounded: <= 65,536 grid-cell rows by construction), maps spans
    to ntile file ranges in closed form, and explodes the
    (first_file..last_file) sequence per layout in ONE Generate. The
    in-rect total rides the same bounded window (no join of any kind
    in the plan). Extents and counts are value-identical to the
    row-level ranking (a file's cells are exactly the cells whose
    spans overlap its rank interval; proven by the unchanged oracle,
    which keeps the naive row-level ntile windows). The old plan's two
    chained ordered_prefix passes over ALL orders rows (27 exchanges,
    2 materializations) become one linear plan that scans orders once.
    File-level min/max pruning is exactly what the parquet writer's
    footer stats give the scan for free afterwards."""

    def ntile_of(rn: Column, n: Column, b: int) -> Column:
        # SQL-standard ntile: q = n div b, r = n mod b; the first r
        # buckets hold q+1 rows — identical to Spark's and DuckDB's
        # built-in, computed from the cell's global rank span.
        q = F.floor(n / b).cast("long")
        r = (n % b).cast("long")
        boundary = r * (q + 1)
        return (
            F.when(rn <= boundary, F.floor((rn - 1) / (q + 1)) + 1)
            .otherwise(r + F.floor((rn - boundary - 1) / q) + 1)
            .cast("int")
        )

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        (F.col("o_custkey") % 256).alias("x"),
        (
            F.expr(f"unix_micros(cast(o_orderdate as timestamp)) div {_DAY_US}") % 256
        ).alias("y"),
    )
    cells = base.groupBy("x", "y").agg(F.count(F.lit(1)).alias("cnt"))
    cz = cells.withColumn("z", F.expr(_interleave_sql("x", "y", "spark")))
    in_rect = F.col("x").between(64, 127) & F.col("y").between(64, 127)
    # Rank spans over the bounded cell frame. All three windows share
    # one single-partition exchange; each is O(grid) rows.
    # # bounded: <= 65,536 grid-cell rows by construction (256 x 256)
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w_z = W.orderBy("z").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_lin = W.orderBy("x", "y").rowsBetween(W.unboundedPreceding, W.currentRow)
    spans = cz.select(
        "x",
        "y",
        "cnt",
        F.sum("cnt").over(w_all).alias("n"),
        F.sum(F.when(in_rect, F.col("cnt")).otherwise(0))
        .over(w_all)
        .alias("rect_total"),
        (F.sum("cnt").over(w_z) - F.col("cnt")).alias("z_start"),
        (F.sum("cnt").over(w_lin) - F.col("cnt")).alias("l_start"),
    )
    zf1 = ntile_of(F.col("z_start") + 1, F.col("n"), _Z_FILES)
    zf2 = ntile_of(F.col("z_start") + F.col("cnt"), F.col("n"), _Z_FILES)
    lf1 = ntile_of(F.col("l_start") + 1, F.col("n"), _Z_FILES)
    lf2 = ntile_of(F.col("l_start") + F.col("cnt"), F.col("n"), _Z_FILES)

    def _files(layout: str, f1: Column, f2: Column) -> Column:
        return F.transform(
            F.sequence(f1, f2),
            lambda f: F.struct(
                F.lit(layout).alias("layout"), f.cast("int").alias("f")
            ),
        )

    layouts = spans.select(
        "x",
        "y",
        "rect_total",
        F.explode(F.concat(_files("z", zf1, zf2), _files("lin", lf1, lf2))).alias(
            "a"
        ),
    ).select(
        "x",
        "y",
        "rect_total",
        F.col("a.layout").alias("layout"),
        F.col("a.f").alias("f"),
    )
    ext = layouts.groupBy("layout", "f").agg(
        F.min("x").alias("mnx"),
        F.max("x").alias("mxx"),
        F.min("y").alias("mny"),
        F.max("y").alias("mxy"),
        F.max("rect_total").alias("rt"),
    )
    overlap = (
        (F.col("mnx") <= 127)
        & (F.col("mxx") >= 64)
        & (F.col("mny") <= 127)
        & (F.col("mxy") >= 64)
    )
    return ext.agg(
        F.count_distinct("f").cast("long").alias("n_files"),
        F.sum(F.when((F.col("layout") == "z") & overlap, 1).otherwise(0))
        .cast("long")
        .alias("files_hit_zorder"),
        F.sum(F.when((F.col("layout") == "lin") & overlap, 1).otherwise(0))
        .cast("long")
        .alias("files_hit_linear"),
        F.max("rt").cast("long").alias("n_rows_rect"),
    )


# ---------------------------------------------------------------------------
# D150: functional-dependency profiling
# ---------------------------------------------------------------------------

_FD_CANDIDATES = (
    # (name, lhs expr sql, rhs col) — all over orders, one scan
    ("orderkey->custkey", "o_orderkey", "o_custkey"),
    ("custkey->priority", "o_custkey", "o_orderpriority"),
    ("status->priority", "o_orderstatus", "o_orderpriority"),
    ("month->status", "month(o_orderdate)", "o_orderstatus"),
)


@query(
    "d150_fd_profiling",
    tags=("D150", "D93", "D141"),
    oracle=f"""
    WITH a AS (
        SELECT
            {", ".join(
                f"count(DISTINCT ({lhs})) AS l{i}, "
                f"count(DISTINCT (({lhs}), ({rhs}))) AS p{i}"
                for i, (_, lhs, rhs) in enumerate(_FD_CANDIDATES)
            )}
        FROM orders
    )
    {" UNION ALL ".join(
        f"SELECT '{name}' AS fd, CAST(l{i} AS BIGINT) AS n_lhs_groups, "
        f"CAST(p{i} AS BIGINT) AS n_pairs, "
        f"CAST(p{i} - l{i} AS BIGINT) AS n_extra_values, "
        f"CAST(CASE WHEN p{i} = l{i} THEN 1 ELSE 0 END AS INT) AS holds FROM a"
        for i, (name, _, _) in enumerate(_FD_CANDIDATES)
    )}
    ORDER BY fd
    """,
)
def d150_fd_profiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling (the Metanome/data-profiling
    primitive): for each candidate FD 'lhs -> rhs', compare
    |distinct lhs| against |distinct (lhs, rhs)| — equality proves the
    dependency holds on this data; the surplus counts how many extra
    rhs values violate it. Candidates mix a true key-derived FD
    (orderkey->custkey holds) with genuinely violated ones, so the
    profile is non-vacuous in both directions. FD discovery feeds
    normalization, key inference, and dedup-key selection.

    Plan shape: ALL eight distinct-counts ride ONE orders scan —
    Catalyst plans multi-count-distinct as a single Expand (x8 row
    multiplication) + two-phase aggregate. That is the right trade at
    profiling cardinalities; at 100 TB with many candidates the swap is
    per-FD passes or HLL sketches (A83's path) at a bounded error. The
    four report rows are exploded map-side from the one aggregate row."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for i, (_, lhs, rhs) in enumerate(_FD_CANDIDATES):
        aggs.append(F.count_distinct(F.expr(lhs)).alias(f"l{i}"))
        aggs.append(F.count_distinct(F.expr(lhs), F.expr(rhs)).alias(f"p{i}"))
    a = o.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("fd"),
                F.col(f"l{i}").alias("n_lhs_groups"),
                F.col(f"p{i}").alias("n_pairs"),
            )
            for i, (name, _, _) in enumerate(_FD_CANDIDATES)
        ]
    )
    return (
        a.select(F.explode(rows).alias("x"))
        .select(
            F.col("x.fd").alias("fd"),
            F.col("x.n_lhs_groups").cast("long").alias("n_lhs_groups"),
            F.col("x.n_pairs").cast("long").alias("n_pairs"),
            (F.col("x.n_pairs") - F.col("x.n_lhs_groups"))
            .cast("long")
            .alias("n_extra_values"),
            (F.col("x.n_pairs") == F.col("x.n_lhs_groups"))
            .cast("int")
            .alias("holds"),
        )
        .orderBy("fd")
    )


# ---------------------------------------------------------------------------
# D169: semi-structured field-inventory profiling (schema drift audit)
# ---------------------------------------------------------------------------


@query(
    "d169_json_field_inventory",
    tags=("D169", "D50", "D150"),
    oracle=f"""
    WITH payloads AS (
        SELECT doc_id,
               '{{"id":' || CAST(doc_id AS VARCHAR)
                   || ',"lang":"' || lang || '"'
                   || CASE WHEN doc_id % 3 = 0
                           THEN ',"score":' || CAST(doc_id % 100 AS VARCHAR)
                           ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN ',"tag":"t' || CAST(doc_id % 7 AS VARCHAR) || '"'
                           ELSE '' END
                   || '}}' AS payload
        FROM documents
    ),
    kv AS (
        SELECT doc_id, payload, unnest(json_keys(payload)) AS field
        FROM payloads
    ),
    vals AS (
        SELECT field, doc_id,
               json_extract_string(payload, '$.' || field) AS val
        FROM kv
    )
    SELECT field,
           CAST(count(*) AS BIGINT) AS n_present,
           {sql_round("CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM payloads)", 6)}
               AS presence_rate,
           CAST(count(DISTINCT val) AS BIGINT) AS n_distinct_values,
           CAST(sum(CASE WHEN regexp_matches(val, '^-?[0-9]+$')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric
    FROM vals GROUP BY field ORDER BY field
    """,
)
def d169_json_field_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-inventory profiling of a semi-structured payload column —
    the schema-drift audit run over event/JSONL feeds before trusting
    them: which fields exist, how often, with how many distinct values,
    and whether their values are numeric. Payloads are synthesized as
    identical JSON strings in both engines (optional fields keyed on
    doc_id mods, so presence REALLY varies); each engine then discovers
    fields with its own native JSON machinery — Spark explodes
    ``from_json(payload, 'map<string,string>')``, DuckDB unnests
    ``json_keys`` + dynamic-path ``json_extract_string`` — so a parsing
    or key-discovery defect on either side breaks the hash.

    Plan shape: parse + explode are scan-stage (one Generate off the
    JSON map, no UDF); one field-keyed partial-agg shuffle over
    O(fields) keys; the denominator is a 1-row broadcast. At 100 TB
    this is the JSONL-feed profiling pass — map-only until a
    fields-sized rollup."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit('{"id":'),
        F.col("doc_id").cast("string"),
        F.lit(',"lang":"'),
        F.col("lang"),
        F.lit('"'),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(',"score":'), (F.col("doc_id") % 100).cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(',"tag":"t'), (F.col("doc_id") % 7).cast("string"), F.lit('"')),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    p = d.select("doc_id", payload.alias("payload"))
    total = p.agg(F.count(F.lit(1)).alias("__total"))
    kv = p.select(
        "doc_id", F.explode(F.from_json("payload", "map<string,string>")).alias("field", "val")
    )
    return (
        kv.groupBy("field")
        .agg(
            F.count(F.lit(1)).alias("n_present"),
            F.count_distinct("val").alias("n_distinct_values"),
            F.sum(F.col("val").rlike("^-?[0-9]+$").cast("long")).alias("n_numeric"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "field",
            "n_present",
            pround(F.col("n_present").cast("double") / F.col("__total"), 6).alias(
                "presence_rate"
            ),
            "n_distinct_values",
            "n_numeric",
        )
        .orderBy("field")
    )


# ---------------------------------------------------------------------------
# D190: zone-map pruning audit (min/max manifests vs layout correlation)
# ---------------------------------------------------------------------------

_D190_SHARDS = 16
# probe windows as fractions of each key's [min, max] span — pure data
# functions, so the audit is SF-independent and hash-checkable
_D190_LO, _D190_HI = 40, 45  # percent of span


@query(
    "d190_zonemap_pruning",
    tags=("D190", "D142", "D1"),
    oracle=f"""
    WITH ext AS (
        SELECT min(l_orderkey) AS ko, max(l_orderkey) AS k1,
               epoch(min(l_shipdate)) AS so, epoch(max(l_shipdate)) AS s1
        FROM lineitem
    ),
    sharded AS (
        SELECT l.*,
               CAST(floor((l_orderkey - e.ko) * {_D190_SHARDS} * 1.0
                          / (e.k1 - e.ko + 1)) AS BIGINT) AS shard,
               e.ko, e.k1, e.so, e.s1
        FROM lineitem l, ext e
    ),
    zones AS (
        SELECT shard,
               min(l_orderkey) AS zk_min, max(l_orderkey) AS zk_max,
               min(epoch(l_shipdate)) AS zs_min, max(epoch(l_shipdate)) AS zs_max,
               count(*) AS n_rows,
               max(ko) AS ko, max(k1) AS k1, max(so) AS so, max(s1) AS s1
        FROM sharded GROUP BY shard
    ),
    probes AS (
        SELECT 'layout_key' AS probe,
               ko + (k1 - ko) * {_D190_LO} / 100.0 AS lo,
               ko + (k1 - ko) * {_D190_HI} / 100.0 AS hi,
               zk_min AS zmin, zk_max AS zmax, shard, n_rows
        FROM zones
        UNION ALL
        SELECT 'unsorted_key' AS probe,
               so + (s1 - so) * {_D190_LO} / 100.0 AS lo,
               so + (s1 - so) * {_D190_HI} / 100.0 AS hi,
               zs_min AS zmin, zs_max AS zmax, shard, n_rows
        FROM zones
    ),
    hits AS (
        SELECT probe, shard, n_rows,
               CAST(zmax >= lo AND zmin <= hi AS INT) AS touched
        FROM probes
    ),
    matched AS (
        SELECT 'layout_key' AS probe, count(*) AS n_matched
        FROM sharded
        WHERE l_orderkey >= ko + (k1 - ko) * {_D190_LO} / 100.0
          AND l_orderkey <= ko + (k1 - ko) * {_D190_HI} / 100.0
        UNION ALL
        SELECT 'unsorted_key', count(*)
        FROM sharded
        WHERE epoch(l_shipdate) >= so + (s1 - so) * {_D190_LO} / 100.0
          AND epoch(l_shipdate) <= so + (s1 - so) * {_D190_HI} / 100.0
    )
    SELECT h.probe,
           CAST({_D190_SHARDS} AS INT) AS shards_total,
           CAST(sum(h.touched) AS INT) AS shards_touched,
           CAST(sum(h.touched * h.n_rows) AS BIGINT) AS rows_scanned,
           CAST(max(m.n_matched) AS BIGINT) AS rows_matched
    FROM hits h JOIN matched m ON m.probe = h.probe
    GROUP BY h.probe
    ORDER BY h.probe
    """,
)
def d190_zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning audit — quantifies WHY layout matters before
    paying for it (the decision input to d142's z-order and d171's
    compaction): lay `lineitem` out in {_D190_SHARDS} equal-width
    orderkey shards, build the per-shard min/max manifest (the
    parquet-footer/Delta-stats model), then answer the same 5%-of-span
    range probe twice — once on the layout key, once on an
    uncorrelated key — and report shards touched + rows scanned vs
    rows actually matched.

    On the layout key the manifest prunes to ~1 shard; on the
    uncorrelated key every zone's [min,max] spans the whole domain and
    NOTHING prunes even though the selectivity is identical — the
    false-positive scan cost is exactly what a sort/z-order removes at
    100 TB. All thresholds are pure functions of the key extents
    (integer arithmetic over min/max), so the audit is deterministic
    and hash-checked, not a planner-dependent estimate.

    Plan shape: extents are a 1-row aggregate broadcast back (the d81
    two-pass discipline); shard id is a pure projection; zones are ONE
    keyed aggregation ({_D190_SHARDS} rows); probe evaluation runs on
    the bounded zone manifest, with the matched-row counts folded in
    the same pass over the sharded frame — no per-probe rescan."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.unix_timestamp("l_shipdate").alias("s_ep")
    )
    ext = li.agg(
        F.min("l_orderkey").alias("ko"), F.max("l_orderkey").alias("k1"),
        F.min("s_ep").alias("so"), F.max("s_ep").alias("s1"),
    )
    sharded = li.crossJoin(F.broadcast(ext)).withColumn(
        "shard",
        F.floor(
            (F.col("l_orderkey") - F.col("ko"))
            * _D190_SHARDS
            / (F.col("k1") - F.col("ko") + 1)
        ),
    )
    k_lo = F.col("ko") + (F.col("k1") - F.col("ko")) * _D190_LO / 100
    k_hi = F.col("ko") + (F.col("k1") - F.col("ko")) * _D190_HI / 100
    s_lo = F.col("so") + (F.col("s1") - F.col("so")) * _D190_LO / 100
    s_hi = F.col("so") + (F.col("s1") - F.col("so")) * _D190_HI / 100
    zones = sharded.groupBy("shard").agg(
        F.min("l_orderkey").alias("zk_min"), F.max("l_orderkey").alias("zk_max"),
        F.min("s_ep").alias("zs_min"), F.max("s_ep").alias("zs_max"),
        F.count(F.lit(1)).alias("n_rows"),
        # row-level matched counts folded in the SAME pass (no rescan)
        F.sum(
            ((F.col("l_orderkey") >= k_lo) & (F.col("l_orderkey") <= k_hi))
            .cast("long")
        ).alias("m_key"),
        F.sum(((F.col("s_ep") >= s_lo) & (F.col("s_ep") <= s_hi)).cast("long"))
        .alias("m_date"),
        F.max("ko").alias("ko"), F.max("k1").alias("k1"),
        F.max("so").alias("so"), F.max("s1").alias("s1"),
    )
    # the two probe branches below UNION over zones — materialize the
    # 16-row manifest once or each branch re-executes the corpus pass
    # (Catalyst reuses no subtrees across union branches)
    zones = reliable_checkpoint(zones)
    probes = zones.select(
        F.lit("layout_key").alias("probe"),
        k_lo.alias("lo"), k_hi.alias("hi"),
        F.col("zk_min").cast("double").alias("zmin"),
        F.col("zk_max").cast("double").alias("zmax"),
        "n_rows", F.col("m_key").alias("m"),
    ).unionByName(
        zones.select(
            F.lit("unsorted_key").alias("probe"),
            s_lo.alias("lo"), s_hi.alias("hi"),
            F.col("zs_min").cast("double").alias("zmin"),
            F.col("zs_max").cast("double").alias("zmax"),
            "n_rows", F.col("m_date").alias("m"),
        )
    )
    touched = ((F.col("zmax") >= F.col("lo")) & (F.col("zmin") <= F.col("hi"))).cast(
        "int"
    )
    return (
        probes.withColumn("touched", touched)
        .groupBy("probe")
        .agg(
            F.lit(_D190_SHARDS).cast("int").alias("shards_total"),
            F.sum("touched").cast("int").alias("shards_touched"),
            F.sum(F.col("touched") * F.col("n_rows")).cast("long").alias(
                "rows_scanned"
            ),
            F.sum("m").cast("long").alias("rows_matched"),
        )
        .orderBy("probe")
    )


# ---------------------------------------------------------------------------
# D192: incremental layout maintenance loop (manifest + compaction at day 2)
# ---------------------------------------------------------------------------

_D192_SHARDS = 8
_D192_MAX_FILES = 4  # compact a shard once it exceeds this many files


def _d192_oracle() -> str:
    """Recompute all three manifest generations from lineitem with the
    same deterministic rules (bootstrap one file/shard; arrivals land 2
    small files/shard; a shard over the file threshold compacts to one
    file; round-2 arrivals touch odd shards only)."""
    mk_files = """
        SELECT {gen} AS gen, shard,
               'g{gen}-' || shard || '-' || sub AS file_id,
               count(*) AS n_rows, min(k) AS zmin, max(k) AS zmax
        FROM base WHERE grp = {gen} {extra}
        GROUP BY shard, sub"""

    def compact(u: str, r: int) -> str:
        return f"""
    f{r} AS (SELECT shard, count(*) AS nf FROM {u} GROUP BY shard),
    m{r} AS (
        SELECT u.gen, u.shard, u.file_id, u.n_rows, u.zmin, u.zmax
        FROM {u} u JOIN f{r} USING (shard) WHERE f{r}.nf <= {_D192_MAX_FILES}
        UNION ALL
        SELECT {r} AS gen, u.shard, 'c{r}-' || u.shard AS file_id,
               sum(u.n_rows) AS n_rows, min(u.zmin) AS zmin, max(u.zmax) AS zmax
        FROM {u} u JOIN f{r} USING (shard) WHERE f{r}.nf > {_D192_MAX_FILES}
        GROUP BY u.shard
    )"""

    return f"""
    WITH ext AS (
        SELECT min(l_orderkey) AS ko, max(l_orderkey) AS k1 FROM lineitem
    ),
    base AS (
        SELECT l_orderkey AS k,
               CAST(floor((l_orderkey - e.ko) * {_D192_SHARDS} * 1.0
                          / (e.k1 - e.ko + 1)) AS BIGINT) AS shard,
               l_orderkey % 3 AS grp,
               CASE WHEN l_orderkey % 3 = 0 THEN 0
                    ELSE l_linenumber % 2 END AS sub
        FROM lineitem l, ext e
    ),
    m0 AS ({mk_files.format(gen=0, extra="")}),
    a1 AS ({mk_files.format(gen=1, extra="")}),
    u1 AS (SELECT * FROM m0 UNION ALL SELECT * FROM a1),
    {compact("u1", 1).lstrip()},
    a2 AS ({mk_files.format(gen=2, extra="AND shard % 2 = 1")}),
    u2 AS (SELECT * FROM m1 UNION ALL SELECT * FROM a2),
    {compact("u2", 2).lstrip()}
    SELECT * FROM (
        SELECT 0 AS round_id, shard, CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(n_rows) AS BIGINT) AS n_rows,
               CAST(min(zmin) AS BIGINT) AS zmin, CAST(max(zmax) AS BIGINT) AS zmax
        FROM m0 GROUP BY shard
        UNION ALL
        SELECT 1, shard, CAST(count(*) AS BIGINT), CAST(sum(n_rows) AS BIGINT),
               CAST(min(zmin) AS BIGINT), CAST(max(zmax) AS BIGINT)
        FROM m1 GROUP BY shard
        UNION ALL
        SELECT 2, shard, CAST(count(*) AS BIGINT), CAST(sum(n_rows) AS BIGINT),
               CAST(min(zmin) AS BIGINT), CAST(max(zmax) AS BIGINT)
        FROM m2 GROUP BY shard
    ) ORDER BY round_id, shard
    """


@query("d192_layout_maintenance_loop", tags=("D192", "D171", "D190", "D142"),
       oracle=_d192_oracle())
def d192_layout_maintenance_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental layout maintenance under arrivals — the table-service
    loop every long-lived 100 TB table needs (the stateful form of
    d171's one-shot planner, carrying d190's zone manifest): a persisted
    file MANIFEST (file_id, shard, n_rows, zone min/max) is bootstrapped
    from the base load, each arrival round appends small-file entries,
    zones refresh by MERGEABLE stats (min/max/count fold over manifest
    rows — the old data is never rescanned), and any shard whose file
    count exceeds the threshold compacts to one entry. Round-2 arrivals
    touch odd shards only, so compaction is selective — the ledger shows
    grow → threshold → compact per shard.

    Loop state discipline (the d181/d184/d187 shape): each generation's
    manifest is WRITTEN to parquet and the next round reads it back —
    per-round work is O(arrival batch) + O(manifest), and the declared
    result is computed entirely FROM the persisted manifests (zero
    lineitem scans in the final plan, pinned by
    test_layout_loop_result_reads_only_manifest). At 100 TB the
    manifest is O(files) rows — KBs per shard — while the data itself
    is only ever touched by the arrival writes and the (out-of-scope
    here) physical rewrite the compaction ledger schedules."""
    ls = LoopState(spark, "layout_loop")

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    ext = li.agg(
        F.min("l_orderkey").alias("ko"), F.max("l_orderkey").alias("k1")
    )
    base = li.crossJoin(F.broadcast(ext)).select(
        F.col("l_orderkey").alias("k"),
        F.floor(
            (F.col("l_orderkey") - F.col("ko"))
            * _D192_SHARDS
            / (F.col("k1") - F.col("ko") + 1)
        ).alias("shard"),
        (F.col("l_orderkey") % 3).alias("grp"),
        F.when(F.col("l_orderkey") % 3 == 0, F.lit(0))
        .otherwise(F.col("l_linenumber") % 2)
        .alias("sub"),
    )

    def files_of(gen: int, extra=None):
        src = base.filter(F.col("grp") == gen)
        if extra is not None:
            src = src.filter(extra)
        return src.groupBy("shard", "sub").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("k").alias("zmin"),
            F.max("k").alias("zmax"),
        ).select(
            F.lit(gen).alias("gen"),
            "shard",
            F.concat_ws("-", F.lit(f"g{gen}"), "shard", "sub").alias("file_id"),
            "n_rows", "zmin", "zmax",
        )

    manifests = [ls.put(files_of(0), "manifest", 0)]
    for r, extra in ((1, None), (2, F.col("shard") % 2 == 1)):
        unioned = manifests[-1].unionByName(files_of(r, extra))
        counts = unioned.groupBy("shard").agg(F.count(F.lit(1)).alias("nf"))
        keep = unioned.join(counts, "shard").filter(
            F.col("nf") <= _D192_MAX_FILES
        ).drop("nf")
        merged = (
            unioned.join(counts, "shard")
            .filter(F.col("nf") > _D192_MAX_FILES)
            .groupBy("shard")
            .agg(
                F.sum("n_rows").alias("n_rows"),
                F.min("zmin").alias("zmin"),
                F.max("zmax").alias("zmax"),
            )
            .select(
                F.lit(r).alias("gen"), "shard",
                F.concat_ws("-", F.lit(f"c{r}"), "shard").alias("file_id"),
                "n_rows", "zmin", "zmax",
            )
        )
        manifests.append(ls.put(keep.unionByName(merged), "manifest", r))

    out = None
    for r, m in enumerate(manifests):
        row = m.groupBy("shard").agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min("zmin").cast("long").alias("zmin"),
            F.max("zmax").cast("long").alias("zmax"),
        ).select(F.lit(r).alias("round_id"), "shard", "n_files", "n_rows",
                 "zmin", "zmax")
        out = row if out is None else out.unionByName(row)
    return out.orderBy("round_id", "shard")


# ---------------------------------------------------------------------------
# D198: run-length bitmap index (islands & gaps) with bounded range probes
# ---------------------------------------------------------------------------

_RLE_N_PROBES = 64


@query(
    "d198_rle_bitmap_index",
    tags=("D198", "D186", "D190"),
    oracle=f"""
    WITH r AS (
        SELECT o_orderstatus AS st, o_orderkey AS k,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_orderkey) AS rn
        FROM orders
    ),
    runs AS (
        SELECT st, k - rn AS rid,
               min(k) AS s, max(k) AS e, count(*) AS len
        FROM r GROUP BY st, k - rn
    ),
    mx AS (SELECT max(o_orderkey) AS mk FROM orders),
    probes AS (
        SELECT unnest(list_transform(range(1, {_RLE_N_PROBES} + 1),
                                     i -> (mk * i) // {_RLE_N_PROBES})) AS p
        FROM mx
    ),
    hits AS (
        SELECT st, CAST(count(*) AS BIGINT) AS probe_hits
        FROM runs JOIN probes ON p BETWEEN s AND e
        GROUP BY st
    ),
    roll AS (
        SELECT st,
               CAST(sum(len) AS BIGINT) AS n_ids,
               CAST(count(*) AS BIGINT) AS n_runs,
               CAST(max(len) AS BIGINT) AS max_run_len,
               {sql_round('CAST(sum(len) AS DOUBLE) / count(*)', 4)} AS avg_run_len,
               {sql_round('2.0 * count(*) / sum(len)', 4)} AS endpoints_per_id
        FROM runs GROUP BY st
    )
    SELECT roll.st, n_ids, n_runs, max_run_len, avg_run_len,
           endpoints_per_id,
           coalesce(probe_hits, 0) AS probe_hits
    FROM roll LEFT JOIN hits ON roll.st = hits.st
    ORDER BY roll.st
    """,
)
def d198_rle_bitmap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length bitmap index — the roaring/Druid-style compressed
    membership structure: per key (order status), the sorted id set is
    folded into maximal [start, end] runs via the islands trick
    (run id = id − rank, constant exactly along consecutive ids), then
    the index answers point probes by run CONTAINMENT instead of id
    equality. The ledger reports per-key run counts, run-length shape,
    endpoints-per-id (the compression the runs buy over a raw id list),
    and hits for a deterministic 64-probe set.

    Scale shape: the per-key rank is the D186 grouped prefix — status
    has 3 values, so ``row_number() OVER (PARTITION BY status)`` would
    serialize 100 TB of ids through 3 reducer chains; the grouped
    prefix range-partitions on (status, id) instead (the oracle keeps
    the naive window SQL, so value identity of the two formulations is
    the checked property, as in d186/d189). Runs = one (status, run-id)
    keyed aggregation; probes are bounded by construction (64 ids
    derived from the global max via one 1-row aggregate — the
    d184-centroid collect class) and broadcast against the runs, so the
    containment join never shuffles the index."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("st"), F.col("o_orderkey").alias("k")
    )
    r = ordered_prefix(o, ["k"], group_cols=["st"], row_number="rn")
    runs = (
        r.withColumn("rid", F.col("k") - F.col("rn"))
        .groupBy("st", "rid")
        .agg(
            F.min("k").alias("s"),
            F.max("k").alias("e"),
            F.count(F.lit(1)).alias("len"),
        )
    )
    # 1-row bounded collect (the d184-centroid class): the global max id
    mk = int(o.agg(F.max("k")).collect()[0][0])
    probes = spark.createDataFrame(
        [(int(mk * i // _RLE_N_PROBES),) for i in range(1, _RLE_N_PROBES + 1)],
        "p long",
    )
    hits = (
        runs.join(
            F.broadcast(probes),  # bounded by construction: 64 rows
            (F.col("p") >= F.col("s")) & (F.col("p") <= F.col("e")),
        )
        .groupBy("st")
        .agg(F.count(F.lit(1)).cast("long").alias("probe_hits"))
    )
    roll = runs.groupBy("st").agg(
        F.sum("len").cast("long").alias("n_ids"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("len").cast("long").alias("max_run_len"),
        pround(F.sum("len") * 1.0 / F.count(F.lit(1)), 4).alias("avg_run_len"),
        pround(2.0 * F.count(F.lit(1)) / F.sum("len"), 4).alias("endpoints_per_id"),
    )
    return (
        roll.join(hits, "st", "left")
        .select(
            "st",
            "n_ids",
            "n_runs",
            "max_run_len",
            "avg_run_len",
            "endpoints_per_id",
            F.coalesce("probe_hits", F.lit(0)).cast("long").alias("probe_hits"),
        )
        .orderBy("st")
    )


# ---------------------------------------------------------------------------
# D219: Hilbert-curve layout audit (vs z-order)
# ---------------------------------------------------------------------------


def hilbert_stages(x0: str, y0: str) -> list[tuple[str, str, str]]:
    """Unrolled xy2d Hilbert-index stages over a 2^_Z_BITS grid — the
    canonical iterative rotate/flip walk (public-domain bit algorithm,
    e.g. the Wikipedia 'Hilbert curve' C version), one (x', y',
    d-increment) expression triple per bit plane. The SAME SQL text
    runs in Spark and DuckDB: only `&`, comparisons and CASE — no
    dialect-specific shifts, no XOR operator (the (3*rx)^ry term is a
    4-way CASE). Stage i consumes columns hx{i}/hy{i} and emits
    hx{i+1}/hy{i+1} plus the d term for s = 2^(_Z_BITS-1-i); staging
    through real columns keeps each Catalyst subtree an attribute
    reference (the d195 plan-compile lesson)."""
    n = 1 << _Z_BITS
    out = []
    x, y = x0, y0
    for i in range(_Z_BITS):
        s = 1 << (_Z_BITS - 1 - i)
        rx = f"(CASE WHEN ({x} & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN ({y} & {s}) > 0 THEN 1 ELSE 0 END)"
        dterm = (
            f"{s * s} * (CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0"
            f" WHEN {rx} = 0 THEN 1 WHEN {ry} = 0 THEN 3 ELSE 2 END)"
        )
        # rot(): if ry==0 {{ if rx==1 flip both to n-1-v; swap }}
        nx = (
            f"(CASE WHEN {ry} = 1 THEN {x}"
            f" WHEN {rx} = 1 THEN {n - 1} - {y} ELSE {y} END)"
        )
        ny = (
            f"(CASE WHEN {ry} = 1 THEN {y}"
            f" WHEN {rx} = 1 THEN {n - 1} - {x} ELSE {x} END)"
        )
        out.append((nx, ny, dterm))
        x, y = f"hx{i + 1}", f"hy{i + 1}"
    return out


def _hilbert_oracle_ctes() -> str:
    """DuckDB CTE chain h0..h{_Z_BITS} computing hd from (x, y)."""
    parts = ["h0 AS (SELECT *, x AS hx0, y AS hy0, 0 AS hd0 FROM base)"]
    for i, (nx, ny, dterm) in enumerate(hilbert_stages("hx0", "hy0")):
        nx = nx.replace("hx0", f"hx{i}").replace("hy0", f"hy{i}")
        ny = ny.replace("hx0", f"hx{i}").replace("hy0", f"hy{i}")
        dterm = dterm.replace("hx0", f"hx{i}").replace("hy0", f"hy{i}")
        parts.append(
            f"h{i + 1} AS (SELECT *, {nx} AS hx{i + 1}, {ny} AS hy{i + 1},"
            f" hd{i} + {dterm} AS hd{i + 1} FROM h{i})"
        )
    return ",\n    ".join(parts)


@query(
    "d219_hilbert_layout",
    tags=("D219", "D142", "D190"),
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               o_custkey % 256 AS x,
               (epoch_us(o_orderdate) // {_DAY_US}) % 256 AS y
        FROM orders
    ),
    {_hilbert_oracle_ctes()},
    t AS (
        SELECT x, y,
               ntile({_Z_FILES}) OVER (ORDER BY hd{_Z_BITS}, o_orderkey) AS hf,
               ntile({_Z_FILES}) OVER (ORDER BY {_interleave_sql("x", "y", "duckdb")}, o_orderkey) AS zf
        FROM h{_Z_BITS}
    ),
    layouts AS (
        SELECT 'h' AS layout, hf AS f, x, y FROM t
        UNION ALL
        SELECT 'z' AS layout, zf AS f, x, y FROM t
    ),
    ext AS (
        SELECT layout, f, min(x) AS mnx, max(x) AS mxx,
               min(y) AS mny, max(y) AS mxy
        FROM layouts GROUP BY layout, f
    ),
    hits AS (
        SELECT CAST(count(DISTINCT f) AS BIGINT) AS n_files,
               CAST(sum(CASE WHEN layout = 'h' AND mnx <= 127 AND mxx >= 64
                              AND mny <= 127 AND mxy >= 64 THEN 1 ELSE 0 END)
                    AS BIGINT) AS files_hit_hilbert,
               CAST(sum(CASE WHEN layout = 'z' AND mnx <= 127 AND mxx >= 64
                              AND mny <= 127 AND mxy >= 64 THEN 1 ELSE 0 END)
                    AS BIGINT) AS files_hit_zorder
        FROM ext
    )
    SELECT n_files, files_hit_hilbert, files_hit_zorder,
           {sql_round("files_hit_hilbert * 1.0 / files_hit_zorder", 4)}
               AS hilbert_vs_z_ratio
    FROM hits
    """,
)
def d219_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering audit — the OTHER half of the layout
    decision D142 measures for z-order: bucket orders into the same
    256x256 (customer-bucket, day-bucket) grid, compute the Hilbert
    index with the canonical unrolled rotate/flip walk, split into 64
    'files' under Hilbert order vs Morton (z) order, and count how
    many files the middle-quarter 2-D rectangle hits under each given
    per-file min/max stats. Hilbert preserves locality strictly better
    than Morton in the worst case (no diagonal jumps), which is why
    lakehouse OPTIMIZE implementations offer both; this row measures
    the actual pruning difference on this table so the layout choice
    is data-driven, not folklore.

    Plan shape (r15 rework — guide §2.4, VERDICT r14 #6): the ntile
    ranks order by (hd, o_orderkey), but hd and z are BIJECTIONS of the
    256x256 grid cell and every row of a cell shares (x, y) — so a
    file's extent depends only on WHICH cells intersect its rank range,
    never on which individual rows do. The query therefore aggregates
    orders to per-cell counts FIRST (one partial-agg shuffle onto a
    frame bounded by the 65,536-cell grid, not by the data), computes
    the Hilbert index as {_Z_BITS} chained column stages on cells (pure
    CASE/mask arithmetic, whole-stage codegen'd), derives each cell's
    contiguous rank span per ordering from prefix sums over the bounded
    cell frame (single-partition windows are safe here EXACTLY because
    the frame is grid-bounded — # bounded: <= 65,536 grid-cell rows by
    construction), maps spans to the ntile file range in closed form,
    and explodes the (first_file..last_file) sequence per layout in ONE
    Generate. Extents and hit counts are bit-identical to the row-level
    ranking (a file's cells are exactly the cells whose spans overlap
    its rank interval); the old plan's two ordered_prefix passes over
    ALL orders rows (27 exchanges, 2 materializations) become one
    linear 4-exchange plan that scans orders once. Verified bit-for-bit
    against a pure-Python reference walk AND the Hilbert adjacency
    property in tests/test_property.py::test_hilbert_index_matches_reference."""

    def ntile_of(rn: Column, n: Column, b: int) -> Column:
        q = F.floor(n / b).cast("long")
        r = (n % b).cast("long")
        boundary = r * (q + 1)
        return (
            F.when(rn <= boundary, F.floor((rn - 1) / (q + 1)) + 1)
            .otherwise(r + F.floor((rn - boundary - 1) / q) + 1)
            .cast("int")
        )

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        (F.col("o_custkey") % 256).alias("x"),
        (
            F.expr(f"unix_micros(cast(o_orderdate as timestamp)) div {_DAY_US}") % 256
        ).alias("y"),
    )
    cells = base.groupBy("x", "y").agg(F.count(F.lit(1)).alias("cnt"))
    h = (
        cells.withColumn("hx0", F.col("x"))
        .withColumn("hy0", F.col("y"))
        .withColumn("hd0", F.lit(0))
    )
    for i, (nx, ny, dterm) in enumerate(hilbert_stages("hx0", "hy0")):
        nx = nx.replace("hx0", f"hx{i}").replace("hy0", f"hy{i}")
        ny = ny.replace("hx0", f"hx{i}").replace("hy0", f"hy{i}")
        dterm = dterm.replace("hx0", f"hx{i}").replace("hy0", f"hy{i}")
        h = (
            h.withColumn(f"hx{i + 1}", F.expr(nx))
            .withColumn(f"hy{i + 1}", F.expr(ny))
            .withColumn(f"hd{i + 1}", F.col(f"hd{i}") + F.expr(dterm))
        )
    h = h.select(
        "x",
        "y",
        "cnt",
        F.col(f"hd{_Z_BITS}").alias("hd"),
        F.expr(_interleave_sql("x", "y", "spark")).alias("z"),
    )
    # Rank spans over the bounded cell frame. All three windows share
    # one single-partition exchange; each is O(grid) = O(65,536) rows.
    # # bounded: <= 65,536 grid-cell rows by construction (256 x 256)
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w_hd = W.orderBy("hd").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_z = W.orderBy("z").rowsBetween(W.unboundedPreceding, W.currentRow)
    spans = h.select(
        "x",
        "y",
        "cnt",
        F.sum("cnt").over(w_all).alias("n"),
        (F.sum("cnt").over(w_hd) - F.col("cnt")).alias("h_start"),
        (F.sum("cnt").over(w_z) - F.col("cnt")).alias("z_start"),
    )
    hf1 = ntile_of(F.col("h_start") + 1, F.col("n"), _Z_FILES)
    hf2 = ntile_of(F.col("h_start") + F.col("cnt"), F.col("n"), _Z_FILES)
    zf1 = ntile_of(F.col("z_start") + 1, F.col("n"), _Z_FILES)
    zf2 = ntile_of(F.col("z_start") + F.col("cnt"), F.col("n"), _Z_FILES)

    def _files(layout: str, f1: Column, f2: Column) -> Column:
        return F.transform(
            F.sequence(f1, f2),
            lambda f: F.struct(
                F.lit(layout).alias("layout"), f.cast("int").alias("f")
            ),
        )

    layouts = spans.select(
        "x",
        "y",
        F.explode(F.concat(_files("h", hf1, hf2), _files("z", zf1, zf2))).alias("a"),
    ).select("x", "y", F.col("a.layout").alias("layout"), F.col("a.f").alias("f"))
    ext = layouts.groupBy("layout", "f").agg(
        F.min("x").alias("mnx"),
        F.max("x").alias("mxx"),
        F.min("y").alias("mny"),
        F.max("y").alias("mxy"),
    )
    overlap = (
        (F.col("mnx") <= 127)
        & (F.col("mxx") >= 64)
        & (F.col("mny") <= 127)
        & (F.col("mxy") >= 64)
    )
    hits = ext.agg(
        F.count_distinct("f").cast("long").alias("n_files"),
        F.sum(F.when((F.col("layout") == "h") & overlap, 1).otherwise(0))
        .cast("long")
        .alias("files_hit_hilbert"),
        F.sum(F.when((F.col("layout") == "z") & overlap, 1).otherwise(0))
        .cast("long")
        .alias("files_hit_zorder"),
    )
    return hits.select(
        "n_files",
        "files_hit_hilbert",
        "files_hit_zorder",
        pround(
            F.col("files_hit_hilbert") / F.col("files_hit_zorder"), 4
        ).alias("hilbert_vs_z_ratio"),
    )
