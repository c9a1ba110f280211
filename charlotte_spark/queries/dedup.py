"""Deduplication operators (SURVEY §2.2 D65/A66 + training-data mandate).

Four detectors over ``documents``: exact (md5 groupBy), MinHash-LSH
(shingle → 12 minhashes → 6 bands → bucket join), SimHash (32-bit,
hamming pairs), and exact n-gram Jaccard. The driver's corpus has no
duplicates, so every query builds a corpus with *synthesized* dup/near-
dup rows (originals unioned with exact or one-token-perturbed copies at
``doc_id + 1_000_000``) — detection is therefore non-vacuous and the
expected pairs are known by construction.

All hash families are the portable md5-derived hash with fixed string
seeds (SURVEY A66: "deterministic given fixed seeds → actually
hash-checkable"), so even the LSH query is hash-compared, not
error-bounded.

Scale: LSH is the 100 TB path — candidate generation is a shuffle on
(band_idx, band_hash) buckets, never an all-pairs join; signature
computation is embarrassingly parallel projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fan_out, load_table
from ..functions.portable import pround, sql_round
from ..functions.shingles import with_shingles
from ..operators.loopstate import BASE, LoopState, scratch_dir
from ..registry import query
from ..session import reliable_checkpoint

N_HASHES = 12
N_BANDS = 6  # rows-per-band = 2
SIMHASH_BITS = 32


def _spark_phash(col, seed: str):
    """Portable md5-derived hash of a string column (engine-agnostic)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(seed), col)), 1, 8), 16, 10).cast("long")


def _corpus_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + exact copies of every 10th doc at doc_id+1e6."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


_SQL_CORPUS_EXACT = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""


def _corpus_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + last-token-dropped copies of every 20th doc.

    fan_out: every consumer shingles/hashes each row ~50×, which would
    otherwise serialize on the single-row-group scan task."""
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.split("text", " ")
    near = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ").alias("text"),
    )
    return d.unionByName(near)


_SQL_CORPUS_NEAR = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           coalesce(array_to_string((string_split(text, ' '))[1:len(string_split(text, ' ')) - 1], ' '), '') AS text
    FROM documents WHERE doc_id % 20 = 0
"""


@query(
    "d65_exact_dedup",
    tags=("D65",),
    oracle=f"""
    WITH corpus AS ({_SQL_CORPUS_EXACT})
    SELECT md5(text) AS text_md5,
           CAST(min(doc_id) AS BIGINT) AS kept_id,
           count(*) AS n_copies
    FROM corpus
    GROUP BY md5(text)
    HAVING count(*) > 1
    ORDER BY kept_id
    """,
)
def d65_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by md5(text): keep min doc_id, report duplicate groups.
    (The keep-one projection is this minus the HAVING.)"""
    return (
        _corpus_exact(spark, sf_dir)
        .groupBy(F.md5("text").alias("text_md5"))
        .agg(F.min("doc_id").alias("kept_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .orderBy("kept_id")
    )


# Affine minhash family over ONE base hash per shingle: h_j(s) =
# (A_j * base(s) + B_j) mod P, base = md5-derived 32-bit int mod P.
# One string hash per shingle (not N_HASHES of them) — the classic
# universal-hash-family construction, and ~10× cheaper at scale.
# P = 2^31 - 1 keeps A_j * base < 2^62 (no int64 overflow, both engines).
MH_P = 2_147_483_647
MH_A = [(2 * j + 1) * 40_503_551 % MH_P for j in range(N_HASHES)]  # odd, fixed
MH_B = [(j + 1) * 1_299_721 % MH_P for j in range(N_HASHES)]


def _mh_perm(j: int):
    # factory, not an inline two-param lambda: PySpark feeds the array
    # index to any second lambda parameter
    return lambda b: (F.lit(MH_A[j]) * b + MH_B[j]) % MH_P


def _minhash_sig(corpus: DataFrame) -> DataFrame:
    """doc_id + mh0..mh{N-1} minhash signature over distinct 3-shingles.

    One select for all 12 permutations — a withColumn per hash re-runs
    analysis over the whole (HOF-heavy) plan each time, and the
    driver-side analysis cost was comparable to executing the query."""
    return _sig_from_shingled(with_shingles(corpus, 3))


def _sig_from_shingled(df: DataFrame) -> DataFrame:
    """Minhash signature from an ALREADY-SHINGLED frame (doc_id +
    shingles) — split from :func:`_minhash_sig` so a caller that also
    needs the shingle sets themselves (d176's exact-Jaccard side) can
    shingle the corpus ONCE and derive both tables from the cut."""
    df = df.withColumn(
        "bases",
        F.transform("shingles", lambda s: _spark_phash(s, "mh|") % MH_P),
    )
    return df.select(
        "doc_id",
        *[
            F.array_min(F.transform("bases", _mh_perm(j))).alias(f"mh{j}")
            for j in range(N_HASHES)
        ],
    )


def _sql_minhash_sig(corpus_sql: str) -> str:
    shingle = "toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]"
    mh = ", ".join(
        f"list_min(list_transform(bases, b -> ({MH_A[j]} * b + {MH_B[j]}) % {MH_P})) AS mh{j}"
        for j in range(N_HASHES)
    )
    return f"""
    SELECT doc_id, {mh}
    FROM (
        SELECT doc_id,
               list_transform(shingles, s ->
                   CAST('0x' || substring(md5('mh|' || s), 1, 8) AS BIGINT) % {MH_P}) AS bases
        FROM (
            SELECT doc_id,
                   list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                                i -> {shingle})) AS shingles
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM ({corpus_sql}))
            WHERE len(toks) >= 3
        )
    )
    """


@query(
    "a66_minhash_lsh_neardup",
    tags=("A66",),
    oracle=f"""
    WITH sig AS ({_sql_minhash_sig(_SQL_CORPUS_NEAR)}),
    bands AS (
        SELECT doc_id,
               unnest([{", ".join(str(i) for i in range(N_BANDS))}]) AS band_idx,
               unnest([{", ".join(
                   f"md5(CAST(mh{2 * i} AS VARCHAR) || '_' || CAST(mh{2 * i + 1} AS VARCHAR))"
                   for i in range(N_BANDS)
               )}]) AS bhash
        FROM sig
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id,
           {sql_round(
               "(" + " + ".join(
                   f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(N_HASHES)
               ) + f") / {float(N_HASHES)}", 4)} AS est_jaccard
    FROM pairs
    JOIN sig sa ON sa.doc_id = a_id
    JOIN sig sb ON sb.doc_id = b_id
    WHERE ({" + ".join(
        f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(N_HASHES)
    )}) / {float(N_HASHES)} >= 0.49
    ORDER BY a_id, b_id
    """,
)
def a66_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: 12 minhashes over 3-token shingles,
    6 bands of 2, candidate pairs from band-bucket join, kept when the
    signature-estimated Jaccard >= 0.49. Fixed seeds → hash-checkable.

    The signature table feeds three consumers (band explode + both sides
    of the pair re-score join); materialize it once — shingling is the
    expensive stage and recomputing it 3× tripled the query. At cluster
    scale this is persist(MEMORY_AND_DISK) on a table of n_docs × 12
    ints, trivially cacheable."""
    sig = reliable_checkpoint(_minhash_sig(_corpus_near(spark, sf_dir)).coalesce(8))

    band_cols = [
        F.struct(
            F.lit(i).alias("band_idx"),
            F.md5(
                F.concat(
                    F.col(f"mh{2 * i}").cast("string"),
                    F.lit("_"),
                    F.col(f"mh{2 * i + 1}").cast("string"),
                )
            ).alias("bhash"),
        )
        for i in range(N_BANDS)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("b")).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.bhash").alias("bhash")
    )
    left = bands.select(
        F.col("doc_id").alias("a_id"), "band_idx", F.col("bhash").alias("bhash_a")
    )
    right = bands.select(
        F.col("doc_id").alias("b_id"),
        F.col("band_idx").alias("band_idx_b"),
        F.col("bhash").alias("bhash_b"),
    )
    pairs = (
        left.join(
            right,
            (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("bhash_a") == F.col("bhash_b"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .select("a_id", "b_id")
        .distinct()
    )

    sa = sig.select(F.col("doc_id").alias("a_id"), *[F.col(f"mh{j}").alias(f"a_mh{j}") for j in range(N_HASHES)])
    sb = sig.select(F.col("doc_id").alias("b_id"), *[F.col(f"mh{j}").alias(f"b_mh{j}") for j in range(N_HASHES)])
    matches = sum(
        F.when(F.col(f"a_mh{j}") == F.col(f"b_mh{j}"), 1).otherwise(0) for j in range(N_HASHES)
    )
    return (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("est_jaccard_raw", matches / float(N_HASHES))
        .filter(F.col("est_jaccard_raw") >= 0.49)
        .select("a_id", "b_id", pround("est_jaccard_raw", 4).alias("est_jaccard"))
        .orderBy("a_id", "b_id")
    )


@query(
    "d66_simhash",
    tags=("A66",),
    oracle=f"""
    WITH corpus AS ({_SQL_CORPUS_NEAR}),
    tok AS (
        SELECT doc_id,
               unnest(list_distinct(string_split(text, ' '))) AS t
        FROM corpus
    ),
    hashed AS (
        SELECT doc_id,
               CAST('0x' || substring(md5('sim|' || t), 1, 8) AS BIGINT) AS h
        FROM tok
    ),
    bits AS (
        SELECT doc_id,
               {", ".join(
                   f"sum(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS s{k}"
                   for k in range(SIMHASH_BITS)
               )}
        FROM hashed GROUP BY doc_id
    ),
    sig AS (
        SELECT doc_id,
               {" + ".join(
                   f"CASE WHEN s{k} > 0 THEN CAST({1 << k} AS BIGINT) ELSE 0 END"
                   for k in range(SIMHASH_BITS)
               )} AS simhash
        FROM bits
    )
    SELECT o.doc_id AS a_id, p.doc_id AS b_id,
           bit_count(xor(o.simhash, p.simhash)) AS hamming
    FROM sig o JOIN sig p ON p.doc_id = o.doc_id + 1000000
    WHERE bit_count(xor(o.simhash, p.simhash)) <= 6
    ORDER BY a_id
    """,
)
def d66_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit signatures from distinct-token hashes;
    original vs perturbed twin kept when hamming distance <= 6."""
    corpus = _corpus_near(spark, sf_dir)
    # single-pass per-doc signature via higher-order aggregate: one
    # ±1 bit-count accumulator folded over the token hashes, entirely
    # inside the scan stage — no token explode, no 60k-group × 32-column
    # hash aggregate, ZERO shuffle (measured 1.8 s → 0.34 s at sf0.1 for
    # the signature stage; at 100 TB it removes the token-level shuffle
    # entirely — signatures come out of the map side).
    sig = (
        corpus.withColumn(
            "hs",
            F.transform(
                F.array_distinct(F.split("text", " ")),
                lambda t: _spark_phash(t, "sim|"),
            ),
        )
        .withColumn(
            "acc",
            F.expr(
                f"aggregate(hs, array_repeat(0, {SIMHASH_BITS}), "
                "(a, h) -> transform(a, (x, i) -> x + IF((h >> i) & 1 = 1, 1, -1)))"
            ),
        )
        .withColumn(
            "simhash",
            F.expr(
                f"aggregate(zip_with(acc, sequence(0, {SIMHASH_BITS - 1}), "
                "(a, k) -> IF(a > 0, shiftleft(1L, k), 0L)), 0L, (x, y) -> x + y)"
            ),
        )
        .select("doc_id", "simhash")
    )
    orig = sig.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("sh_a"))
    pert = sig.select((F.col("doc_id") - 1_000_000).alias("a_id_p"), F.col("doc_id").alias("b_id"), F.col("simhash").alias("sh_b"))
    return (
        orig.join(pert, orig.a_id == pert.a_id_p)
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= 6)
        .select("a_id", "b_id", "hamming")
        .orderBy("a_id")
    )


@query(
    "d66_ngram_jaccard",
    tags=("A66",),
    oracle=f"""
    WITH corpus AS ({_SQL_CORPUS_NEAR}),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(toks) - 2),
                             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus)
        WHERE len(toks) >= 3
    )
    SELECT o.doc_id AS a_id, p.doc_id AS b_id,
           {sql_round(
               "CAST(len(list_intersect(o.shingles, p.shingles)) AS DOUBLE) / "
               "(len(o.shingles) + len(p.shingles) - len(list_intersect(o.shingles, p.shingles)))",
               4)} AS jaccard
    FROM sh o JOIN sh p ON p.doc_id = o.doc_id + 1000000
    WHERE CAST(len(list_intersect(o.shingles, p.shingles)) AS DOUBLE) /
          (len(o.shingles) + len(p.shingles) - len(list_intersect(o.shingles, p.shingles))) >= 0.5
    ORDER BY a_id
    """,
)
def d66_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard between each original and its perturbed twin
    (the ground truth the LSH estimator approximates)."""
    # shingling feeds both join branches — materialize once, in few
    # partitions (the table is tiny; per-partition checkpoint overhead
    # would otherwise dominate)
    sh = reliable_checkpoint(
        with_shingles(_corpus_near(spark, sf_dir), 3)
        .select("doc_id", "shingles")
        .coalesce(8)
    )
    o = sh.select(F.col("doc_id").alias("a_id"), F.col("shingles").alias("sh_a"))
    p = sh.select(
        (F.col("doc_id") - 1_000_000).alias("a_id_p"),
        F.col("doc_id").alias("b_id"),
        F.col("shingles").alias("sh_b"),
    )
    return (
        o.join(p, o.a_id == p.a_id_p)
        # intersection size materialized once — reused by numerator and
        # the inclusion-exclusion denominator
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard_raw",
            F.col("n_inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard_raw") >= 0.5)
        .select("a_id", "b_id", pround("jaccard_raw", 4).alias("jaccard"))
        .orderBy("a_id")
    )


def _corpus_near_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + TWO perturbed copies of every 20th doc: drop-last at
    +1e6 and drop-first at +2e6. The two copies are near-dups of the
    original (and usually of each other), so each seeded component is a
    3-node star/triangle — transitive closure is non-trivial."""
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.split("text", " ")
    seed = d.filter(F.col("doc_id") % 20 == 0)
    drop_last = seed.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ").alias("text"),
    )
    drop_first = seed.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, 2, F.size(toks) - 1), " ").alias("text"),
    )
    return d.unionByName(drop_last).unionByName(drop_first)


_SQL_CORPUS_NEAR_CHAIN = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           coalesce(array_to_string(list_slice(toks, 1, len(toks) - 1), ' '), '') AS text
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    WHERE doc_id % 20 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           coalesce(array_to_string(list_slice(toks, 2, len(toks)), ' '), '') AS text
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    WHERE doc_id % 20 = 0
"""


def _sql_scored_pairs(corpus_sql: str) -> str:
    """CTE chain ``sig, bands, cand, scored_pairs``: the a66 LSH
    candidate generation + signature-Jaccard re-score, factored so the
    clustering oracle can build on the identical pair set."""
    bands_idx = ", ".join(str(i) for i in range(N_BANDS))
    bands_hash = ", ".join(
        f"md5(CAST(mh{2 * i} AS VARCHAR) || '_' || CAST(mh{2 * i + 1} AS VARCHAR))"
        for i in range(N_BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(N_HASHES)
    )
    return f"""
    sig AS ({_sql_minhash_sig(corpus_sql)}),
    bands AS (
        SELECT doc_id,
               unnest([{bands_idx}]) AS band_idx,
               unnest([{bands_hash}]) AS bhash
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    ),
    scored_pairs AS (
        SELECT a_id, b_id
        FROM cand
        JOIN sig sa ON sa.doc_id = a_id
        JOIN sig sb ON sb.doc_id = b_id
        WHERE ({matches}) / {float(N_HASHES)} >= 0.49
    )
    """


def _min_label_components(
    edges: DataFrame, *, max_rounds: int = 11, scratch_tag: str = "cc"
) -> DataFrame:
    """Connected components by convergence-detected min-label
    propagation WITH pointer jumping — the shared engine behind d74 and
    d212 (round-12 refactor of d74's in-line loop).

    ``edges`` must be SYMMETRIC (both (src,dst) directions present) and
    should arrive checkpointed + repartitioned on ``src`` so the
    per-round joins and the groupBy(min) reuse one layout. Returns the
    fixpoint labels (id, lbl) as a scratch-parquet-backed frame (all
    per-round caches released before returning).

    Round 0 composes two plain neighbor-min propagations into ONE plan
    (one hash join edges⋈labels + groupBy min each — the standard
    large-graph CC step): LSH dup components are stars and short
    chains, so the common case converges here and pays NOTHING beyond
    the classic loop. Only genuinely deeper components enter the later
    rounds, where each propagation ALSO applies a pointer jump
    (labels⋈labels on lbl = id — label of label, an O(V) self-join
    that roughly doubles the known radius per round), so a diameter-d
    chain converges in O(log d) jumped rounds instead of O(d) linear
    ones. At 100 TB each round is a full shuffle pass over the edge
    set; log-depth on the tail is the difference between ~12 passes
    covering diameter ~2^11 and diameter 12 — without taxing the
    star-shaped bulk with the jump join it never needs.

    Labels decrease monotonically, so a round with sum(chg)=0 is the
    identity — the fixpoint test is exact and costs one O(V) scan of
    the already-persisted round output. ``max_rounds`` is a safety
    bound, not the expected count."""
    from pyspark.storagelevel import StorageLevel

    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lbl"))
    )

    def _propagate(lbls: DataFrame, *, jump: bool) -> DataFrame:
        nbr = (
            # labels is O(V) — no broadcast hint; AQE broadcasts while
            # small, shuffle-joins at scale
            edges.join(lbls, F.col("dst") == F.col("id"))
            .select(F.col("src").alias("nid"), F.col("lbl").alias("nlbl"))
            .groupBy("nid")
            .agg(F.min("nlbl").alias("nbr_lbl"))
        )
        out = lbls.join(nbr, F.col("id") == F.col("nid"), "left")
        if jump:
            jmp = lbls.select(F.col("id").alias("jid"), F.col("lbl").alias("jlbl"))
            out = out.join(jmp, F.col("lbl") == F.col("jid"), "left")
            best = F.least(
                F.coalesce("nbr_lbl", F.col("lbl")),
                F.coalesce("jlbl", F.col("lbl")),
            )
        else:
            best = F.coalesce("nbr_lbl", F.col("lbl"))
        # `chg` rides along so convergence is readable off the persisted
        # round output (O(V) scan) — labels decrease monotonically, so an
        # application with sum(chg)=0 is the identity, i.e. the fixpoint.
        # Two selects: never alias a computed column to a name a sibling
        # expression still references (lateral-alias rebinding).
        return (
            out.select(
                "id",
                F.least(F.col("lbl"), best).alias("new_lbl"),
                (best < F.col("lbl")).cast("int").alias("chg"),
            )
            .select("id", F.col("new_lbl").alias("lbl"), "chg")
        )

    # Checkpoint INTERVAL pattern: per-round materialization is persist()
    # (recomputable — lineage stays <= interval·(2 joins) deep); a
    # reliable checkpoint truncates lineage every 3rd round so a deep
    # chain never accumulates an O(rounds) plan.
    #
    # Fused fixpoint (r15, guide §1.2 "don't compute things twice"):
    # the materializing action IS the convergence aggregate — one O(V)
    # pass per round caches the partitions AND returns sum(chg), where
    # the old shape paid a count() to materialize plus a second O(V)
    # agg scan at the top of the next iteration.
    def _pin(df: DataFrame, round_no: int) -> tuple[DataFrame, int]:
        if round_no % 3 == 2:
            out = reliable_checkpoint(df)
            return out, int(out.agg(F.sum("chg")).first()[0] or 0)
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        # the aggregate scans every partition, so it materializes the
        # cache exactly as count() did — and reads chg in the same job
        chg = int(out.agg(F.sum("chg")).first()[0] or 0)
        return out, chg

    # Two plain propagations composed into ONE plan reach the fixpoint
    # for the common star/triangle components before the first fixpoint
    # test — the jump join only enters on the deep-chain tail.
    labels, chg = _pin(
        _propagate(_propagate(labels, jump=False), jump=False), 0
    )
    pinned = [labels]
    for rnd in range(1, max_rounds):
        # fixpoint test off the round's own materializing aggregate: the
        # last propagate application changed nothing => identity => done.
        if chg == 0:
            break
        labels, chg = _pin(_propagate(labels, jump=True), rnd)
        pinned.append(labels)
    else:
        # max_rounds exhausted without a convergence break: the final
        # round's chg (read by its own _pin) must be inspected — silently
        # returning its labels would be a WRONG ANSWER for a component
        # deeper than the jump schedule covers (ADVICE r12). Pointer
        # jumping makes this astronomically unlikely (diameter
        # ~2^max_rounds), so failing loudly buys an exact guarantee.
        if chg != 0:
            raise RuntimeError(
                f"_min_label_components did not converge within "
                f"{max_rounds} pointer-jumped rounds (component diameter "
                f"> ~2^{max_rounds}); raise max_rounds"
            )
    # materialize THROUGH the final plan before releasing the pinned
    # rounds — JVM-side scratch write, never a driver collect (the label
    # table is O(docs in dup clusters))
    out_dir = scratch_dir(f"cc_labels_{scratch_tag}")
    labels.select("id", "lbl").write.parquet(out_dir)
    spark = labels.sparkSession
    for df in pinned:
        df.unpersist()
    return spark.read.parquet(out_dir)


def _near_chain_cluster_labels(
    spark: SparkSession, sf_dir: str, *, scratch_tag: str
) -> DataFrame:
    """LSH candidate pairs -> verified edges -> connected-component
    labels over `_corpus_near_chain` — factored from d74 so the
    survivor-policy rows (d222) cluster the IDENTICAL pair set."""
    sig = reliable_checkpoint(_minhash_sig(_corpus_near_chain(spark, sf_dir)).coalesce(8))

    band_cols = [
        F.struct(
            F.lit(i).alias("band_idx"),
            F.md5(
                F.concat(
                    F.col(f"mh{2 * i}").cast("string"),
                    F.lit("_"),
                    F.col(f"mh{2 * i + 1}").cast("string"),
                )
            ).alias("bhash"),
        )
        for i in range(N_BANDS)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("b")).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.bhash").alias("bhash")
    )
    left = bands.select(
        F.col("doc_id").alias("a_id"), "band_idx", F.col("bhash").alias("bhash_a")
    )
    right = bands.select(
        F.col("doc_id").alias("b_id"),
        F.col("band_idx").alias("band_idx_b"),
        F.col("bhash").alias("bhash_b"),
    )
    cand = (
        left.join(
            right,
            (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("bhash_a") == F.col("bhash_b"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .select("a_id", "b_id")
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"mh{j}").alias(f"a_mh{j}") for j in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"mh{j}").alias(f"b_mh{j}") for j in range(N_HASHES)],
    )
    n_match = sum(
        F.when(F.col(f"a_mh{j}") == F.col(f"b_mh{j}"), 1).otherwise(0)
        for j in range(N_HASHES)
    )
    pairs = (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .filter(n_match / float(N_HASHES) >= 0.49)
        .select("a_id", "b_id")
    )

    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionByName(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
    )
    # shuffle-partitioned on src: the per-iteration edges⋈labels join and
    # the groupBy(min) reuse this layout; no single-partition funnel
    edges = reliable_checkpoint(edges.repartition("src"))
    return _min_label_components(edges, scratch_tag=scratch_tag)


@query(
    "d74_neardup_clusters",
    tags=("D74", "A66", "D65"),
    oracle=f"""
    WITH RECURSIVE {_sql_scored_pairs(_SQL_CORPUS_NEAR_CHAIN)},
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM scored_pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM scored_pairs
    ),
    reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id,
           CAST(least(src, min(dst)) AS BIGINT) AS cluster_id,
           CAST(CASE WHEN least(src, min(dst)) = src THEN 1 ELSE 0 END AS INT) AS is_survivor
    FROM reach
    GROUP BY src
    ORDER BY cluster_id, doc_id
    """,
)
def d74_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster canonicalization: LSH candidate pairs →
    connected components → keep the min-doc_id survivor per cluster.
    This is the stage that turns pairwise near-dup detection (a66)
    into an actual dedup decision when duplicates chain (A~B, B~C).

    Components are computed by `_min_label_components` (shared with
    d212): convergence-detected min-label propagation with POINTER
    JUMPING — each round is one hash join edges⋈labels + a groupBy min
    (the standard large-graph CC recipe, no driver-side graph) plus an
    O(V) label-of-label self-join that squares the propagation radius.
    Labels decrease monotonically, so convergence is exact (a round
    with sum(chg)=0 is the identity); the synthetic components are
    stars of diameter ≤ 2, so this converges in 2-3 rounds, and the
    safety bound covers diameter 2^rounds for natural chains. The
    DuckDB oracle is a recursive-CTE transitive closure over the
    identical pair set.

    At 100 TB: edges live in the cluster (shuffle join per round, keyed
    on node id); with jumping the round count is LOGARITHMIC in the
    component diameter after LSH bucketing. The min-label formulation
    never materializes the closure, only |V| labels."""
    labels = _near_chain_cluster_labels(spark, sf_dir, scratch_tag="d74")
    return (
        labels.select(
            F.col("id").alias("doc_id"),
            F.col("lbl").alias("cluster_id"),
            (F.col("id") == F.col("lbl")).cast("int").alias("is_survivor"),
        )
        .orderBy("cluster_id", "doc_id")
    )




# ---------------------------------------------------------------------------
# D116: duplicated n-gram span detection (exact-substring dedup statistic)
# ---------------------------------------------------------------------------

_SPAN_N = 8  # token n-gram length (Lee et al. 2021 use 50 BPE tokens; the
             # synthetic docs are 10-99 tokens, so 8 keeps spans non-vacuous)


@query(
    "d116_dup_ngram_spans",
    tags=("D116", "A66", "D69"),
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - {_SPAN_N - 2}),
                      i -> array_to_string(list_slice(t, i, i + {_SPAN_N - 1}), ' '))) AS gram
        FROM toks WHERE len(t) >= {_SPAN_N}
    ),
    pg AS (
        SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
        FROM g GROUP BY doc_id, gram
    ),
    gd AS (
        SELECT gram, CAST(count(*) AS BIGINT) AS n_docs FROM pg GROUP BY gram
    )
    SELECT pg.doc_id,
           CAST(sum(pg.c) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN gd.n_docs >= 2 THEN pg.c ELSE 0 END) AS BIGINT) AS n_dup,
           {sql_round("sum(CASE WHEN gd.n_docs >= 2 THEN pg.c ELSE 0 END) * 1.0 / sum(pg.c)", 6)} AS dup_frac
    FROM pg JOIN gd USING (gram)
    GROUP BY pg.doc_id
    ORDER BY doc_id
    """,
)
def d116_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span statistic per document: the fraction of a doc's
    token 8-gram positions whose n-gram also occurs in at least
    one OTHER document — the distributed form of the exact-substring
    dedup criterion (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better"): docs above a dup_frac threshold are
    the candidates for span-level removal.

    Plan shape: one O(positions) gram stream (position-sequence explode
    — the O(g) formulation from functions/shingles.py, never the O(g²)
    array explode), partial-agg shuffle onto (doc_id, gram), then the
    per-gram document frequency as a COUNT window over the gram key on
    the same aggregate — a single linear lineage, so the gram stream is
    scanned exactly once (the groupBy-then-self-join formulation plans
    the explode subtree twice and Spark's exchange reuse does not merge
    them), and a final per-doc rollup. Every stage is keyed and
    map-side combined; nothing is all-pairs and no posting list is
    materialized — at 100 TB this is a pair of token-keyed
    aggregations plus a window, the same budget as word count."""
    from pyspark.sql import Window as W

    from ..functions.shingles import explode_shingles

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    g = explode_shingles(docs, _SPAN_N, keep=("doc_id",))
    pg = g.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    pg = pg.withColumn("n_docs", F.count(F.lit(1)).over(W.partitionBy("gram")))
    dup_c = F.when(F.col("n_docs") >= 2, F.col("c")).otherwise(F.lit(0))
    return (
        pg.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(dup_c).alias("n_dup"),
            pround(F.sum(dup_c) * 1.0 / F.sum("c"), 6).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# D124: duplicated-span removal accounting (the action on D116's statistic)
# ---------------------------------------------------------------------------


@query(
    "d124_span_removal",
    tags=("D124", "D116", "A66"),
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
        SELECT doc_id, i AS pos,
               array_to_string(list_slice(t, i, i + {_SPAN_N - 1}), ' ') AS gram
        FROM toks, unnest(range(1, len(t) - {_SPAN_N - 2})) u(i)
        WHERE len(t) >= {_SPAN_N}
    ),
    gd AS (
        SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
        GROUP BY gram HAVING count(*) >= 2
    ),
    covered AS (
        SELECT DISTINCT g.doc_id, g.pos + k.k AS tok_idx
        FROM g JOIN gd USING (gram), unnest(range(0, {_SPAN_N})) k(k)
    ),
    per_doc AS (
        SELECT t.doc_id,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(count(c.tok_idx) AS BIGINT) AS n_removed
        FROM toks t LEFT JOIN covered c ON c.doc_id = t.doc_id
        GROUP BY t.doc_id, len(t.t)
    )
    SELECT doc_id, n_tokens, n_removed,
           CAST(n_tokens - n_removed AS BIGINT) AS n_kept,
           {sql_round("n_removed * 1.0 / n_tokens", 6)} AS removed_frac
    FROM per_doc
    ORDER BY doc_id
    """,
)
def d124_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span REMOVAL accounting — the action half of the
    Lee et al. 2021 pipeline (D116 is the statistic): for every
    document, count the token positions covered by at least one
    corpus-duplicated 8-gram (the spans a dedup pass would excise) and
    the surviving length. A position covered by several overlapping
    duplicated grams counts once — the coverage union, not the gram
    count, which is what makes this the faithful removal budget.

    Plan shape: positional gram stream (pos kept through the explode),
    position lists carried through the (gram, doc) aggregate, the dup
    flag as a COUNT window on the gram key (one linear lineage — no
    flag branch re-joined to a second copy of the gram stream), then
    each flagged gram fans out to its 8 covered positions and a
    (doc_id, tok_idx) distinct does the overlap union — every stage
    keyed, partial-aggregated, and linear in corpus positions; nothing
    is all-pairs. At 100 TB the gram-keyed shuffles dominate and are
    the same budget as D116."""
    from pyspark.sql import Window as W

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= _SPAN_N
    )
    g = toks.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(1), F.size("t") - (_SPAN_N - 1))).alias("pos"),
    ).select(
        "doc_id",
        "pos",
        F.concat_ws(
            " ", *[F.element_at("t", F.col("pos") + k) for k in range(_SPAN_N)]
        ).alias("gram"),
    )
    # single lineage (d116's lesson — a dup-flag branch re-joined to the
    # gram stream would plan the positional explode twice): the per-doc
    # position list rides through the (gram, doc) aggregate, the dup
    # flag is a COUNT window on the gram key, and coverage re-expands
    # only the flagged grams' positions
    pg = g.groupBy("gram", "doc_id").agg(F.collect_list("pos").alias("ps"))
    flagged = pg.withColumn(
        "n_docs", F.count(F.lit(1)).over(W.partitionBy("gram"))
    ).filter(F.col("n_docs") >= 2)
    covered = (
        flagged.select("doc_id", F.explode("ps").alias("pos"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + _SPAN_N - 1)).alias(
                "tok_idx"
            ),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_removed"))
    )
    lens = docs.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")).filter(
        F.col("n_tokens") >= _SPAN_N
    )
    return (
        lens.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_removed",
            (F.col("n_tokens") - F.col("n_removed")).cast("long").alias("n_kept"),
            pround(F.col("n_removed") * 1.0 / F.col("n_tokens"), 6).alias("removed_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# D131: incremental dedup of a new batch against a persisted corpus index
# ---------------------------------------------------------------------------


def _bands_of(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, bhash) band table of a minhash signature DF —
    the same 6-band/2-row layout a66 uses."""
    band_cols = [
        F.struct(
            F.lit(i).alias("band_idx"),
            F.md5(
                F.concat(
                    F.col(f"mh{2 * i}").cast("string"),
                    F.lit("_"),
                    F.col(f"mh{2 * i + 1}").cast("string"),
                )
            ).alias("bhash"),
        )
        for i in range(N_BANDS)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_cols)).alias("b")).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.bhash").alias("bhash")
    )


_SQL_NEW_BATCH = """
    SELECT doc_id + 1000000 AS doc_id,
           coalesce(array_to_string((string_split(text, ' '))[1:len(string_split(text, ' ')) - 1], ' '), '') AS text
    FROM documents WHERE doc_id % 20 = 0
"""


def _sql_bands(sig_cte: str) -> str:
    return f"""
        SELECT doc_id,
               unnest([{", ".join(str(i) for i in range(N_BANDS))}]) AS band_idx,
               unnest([{", ".join(
                   f"md5(CAST(mh{2 * i} AS VARCHAR) || '_' || CAST(mh{2 * i + 1} AS VARCHAR))"
                   for i in range(N_BANDS)
               )}]) AS bhash
        FROM {sig_cte}
    """


@query(
    "d131_incremental_dedup",
    tags=("D131", "A66", "D65"),
    oracle=f"""
    WITH corpus_sig AS ({_sql_minhash_sig("SELECT doc_id, text FROM documents")}),
    new_sig AS ({_sql_minhash_sig(_SQL_NEW_BATCH)}),
    corpus_bands AS ({_sql_bands("corpus_sig")}),
    new_bands AS ({_sql_bands("new_sig")}),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
        FROM new_bands n JOIN corpus_bands c
          ON n.band_idx = c.band_idx AND n.bhash = c.bhash
    )
    SELECT new_id, corpus_id,
           {sql_round(
               "(" + " + ".join(
                   f"CASE WHEN sn.mh{j} = sc.mh{j} THEN 1 ELSE 0 END" for j in range(N_HASHES)
               ) + f") / {float(N_HASHES)}", 4)} AS est_jaccard
    FROM cand
    JOIN new_sig sn ON sn.doc_id = new_id
    JOIN corpus_sig sc ON sc.doc_id = corpus_id
    WHERE ({" + ".join(
        f"CASE WHEN sn.mh{j} = sc.mh{j} THEN 1 ELSE 0 END" for j in range(N_HASHES)
    )}) / {float(N_HASHES)} >= 0.49
    ORDER BY new_id, corpus_id
    """,
)
def d131_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup — the continual-pretraining shape: the
    existing corpus's MinHash signatures + band index are built ONCE
    and persisted to storage (scratch parquet here, a table in
    production); each NEW batch (synthesized last-token-dropped copies
    of every 20th doc) signatures only itself and probes the stored
    index. Corpus work is O(new batch), not O(corpus), per arrival —
    the property that makes LSH dedup viable when 100 TB is already
    curated and a TB lands daily.

    Plan shape: index build = a66's signature + band projection, ONE
    write; probe = band equi-join of the (tiny) new-batch band table
    against the index — shuffles keyed on (band_idx, bhash), candidate
    re-score joins the two signature tables. Never all-pairs, and the
    corpus text is never re-shingled."""
    import os as _os

    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sig_dir = f"{BASE}/lsh_idx/{_os.path.basename(sf_dir.rstrip('/'))}"
    # build-once semantics: persist the corpus signatures if absent
    # (the stored index a production pipeline would maintain)
    if not _os.path.exists(f"{sig_dir}/_SUCCESS"):
        _minhash_sig(fan_out(corpus)).write.mode("overwrite").parquet(sig_dir)
    corpus_sig = spark.read.parquet(sig_dir)

    toks = F.split("text", " ")
    new_batch = fan_out(corpus).filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ").alias("text"),
    )
    # materialize the (tiny) new-batch signatures once — they feed both
    # the band explode and the re-score join (a66's lesson), and it
    # keeps the probe plan free of ANY documents scan: both join sides
    # read signature tables only
    new_sig = reliable_checkpoint(_minhash_sig(new_batch))

    cand = (
        _bands_of(new_sig)
        .select(F.col("doc_id").alias("new_id"), "band_idx", "bhash")
        .join(
            _bands_of(corpus_sig).select(
                F.col("doc_id").alias("corpus_id"),
                F.col("band_idx").alias("band_idx_c"),
                F.col("bhash").alias("bhash_c"),
            ),
            (F.col("band_idx") == F.col("band_idx_c"))
            & (F.col("bhash") == F.col("bhash_c")),
        )
        .select("new_id", "corpus_id")
        .distinct()
    )
    sn = new_sig.select(
        F.col("doc_id").alias("new_id"),
        *[F.col(f"mh{j}").alias(f"n_mh{j}") for j in range(N_HASHES)],
    )
    sc = corpus_sig.select(
        F.col("doc_id").alias("corpus_id"),
        *[F.col(f"mh{j}").alias(f"c_mh{j}") for j in range(N_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"n_mh{j}") == F.col(f"c_mh{j}"), 1).otherwise(0)
        for j in range(N_HASHES)
    )
    return (
        cand.join(sn, "new_id")
        .join(sc, "corpus_id")
        .withColumn("ej", matches / float(N_HASHES))
        .filter(F.col("ej") >= 0.49)
        .select("new_id", "corpus_id", pround("ej", 4).alias("est_jaccard"))
        .orderBy("new_id", "corpus_id")
    )


# ---------------------------------------------------------------------------
# D170: duplicate-cluster size distribution + dedup yield curve
# ---------------------------------------------------------------------------


@query(
    "d170_dedup_yield",
    tags=("D170", "D65", "D24"),
    oracle=f"""
    WITH corpus AS ({_SQL_CORPUS_EXACT}),
    clusters AS (
        SELECT md5(text) AS k,
               count(*) AS copies,
               len(string_split(any_value(text), ' ')) AS toks_per_copy
        FROM corpus GROUP BY md5(text)
    )
    SELECT CAST(copies AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(copies) AS BIGINT) AS n_docs,
           CAST(sum((copies - 1) * toks_per_copy) AS BIGINT) AS tokens_removed,
           {sql_round("CAST(sum((copies - 1) * toks_per_copy) AS DOUBLE)"
                      " / sum(copies * toks_per_copy)", 6)} AS removal_frac
    FROM clusters GROUP BY copies ORDER BY cluster_size
    """,
)
def d170_dedup_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield curve: the report a curation pipeline reads before
    committing to keep-one-per-cluster — for each exact-dup cluster
    size, how many clusters exist, how many documents they hold, and
    how many tokens keep-one would remove (absolute and as a fraction
    of that size class). D65 finds the clusters; this is the
    planning-level accounting of what acting on them buys (every
    copies=1 row shows the untouched mass, so the curve is the whole
    corpus, not just the dup tail).

    Token counts ride any_value(text) per cluster — sound because the
    cluster key IS md5(text), so every member has identical text.

    Plan shape: one md5-keyed partial-agg shuffle (the D65 shuffle)
    building O(clusters) rows, then a rollup onto O(distinct sizes)
    keys — the second aggregation input is already cluster-grained, so
    at 100 TB the expensive shuffle happens once and everything after
    is sketch-sized."""
    c = _corpus_exact(spark, sf_dir)
    clusters = c.groupBy(F.md5("text").alias("k")).agg(
        F.count(F.lit(1)).alias("copies"),
        F.size(F.split(F.any_value("text"), " ")).alias("toks_per_copy"),
    )
    removed = F.sum((F.col("copies") - 1) * F.col("toks_per_copy"))
    total = F.sum(F.col("copies") * F.col("toks_per_copy"))
    return (
        clusters.groupBy(F.col("copies").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("copies").alias("n_docs"),
            removed.alias("tokens_removed"),
            pround(removed.cast("double") / total, 6).alias("removal_frac"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# D176: minhash estimator calibration (est vs exact Jaccard per bucket)
# ---------------------------------------------------------------------------


@query(
    "d176_minhash_calibration",
    tags=("D176", "A66"),
    oracle=f"""
    WITH corpus AS ({_SQL_CORPUS_NEAR}),
    sig AS ({_sql_minhash_sig(_SQL_CORPUS_NEAR)}),
    bands AS (
        SELECT doc_id,
               unnest([{", ".join(str(i) for i in range(N_BANDS))}]) AS band_idx,
               unnest([{", ".join(
                   f"md5(CAST(mh{2 * i} AS VARCHAR) || '_' || CAST(mh{2 * i + 1} AS VARCHAR))"
                   for i in range(N_BANDS)
               )}]) AS bhash
        FROM sig
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT a_id, b_id,
               ({" + ".join(
                   f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END"
                   for j in range(N_HASHES)
               )}) AS matches
        FROM pairs JOIN sig sa ON sa.doc_id = a_id JOIN sig sb ON sb.doc_id = b_id
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(toks) - 2),
                             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus)
        WHERE len(toks) >= 3
    ),
    joined AS (
        SELECT s.matches,
               s.matches / {float(N_HASHES)} AS est,
               CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))) AS exact
        FROM scored s JOIN sh a ON a.doc_id = s.a_id JOIN sh b ON b.doc_id = s.b_id
    )
    SELECT CAST(floor(matches * 10.0 / {N_HASHES}) AS BIGINT) AS est_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {sql_round("avg(est)", 4)} AS mean_est,
           {sql_round("avg(exact)", 4)} AS mean_exact,
           {sql_round("avg(abs(est - exact))", 4)} AS mean_abs_err,
           {sql_round("min(exact)", 4)} AS min_exact,
           {sql_round("max(exact)", 4)} AS max_exact
    FROM joined GROUP BY est_bucket ORDER BY est_bucket
    """,
)
def d176_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair,
    compute BOTH the signature-estimated Jaccard and the exact
    shingle-set Jaccard, then report the estimator's behavior per
    estimate decile — pair counts, mean est vs mean exact, mean
    absolute error, exact range. This is the measure-don't-guess
    artifact behind a66's 0.49 threshold: it shows where the
    12-hash estimator is trustworthy and how much false-positive mass
    the banding admits below the cut, BEFORE committing a corpus-wide
    dedup to it. The decile key is integer arithmetic
    (floor(matches·10/12)) — no float boundary.

    Plan shape: the signature table materializes once and feeds the
    band explode + both sides of the estimate join (the a66 shape);
    the exact side joins the once-materialized shingle table twice by
    doc id — every join is keyed, candidates come only from band
    buckets (never all-pairs), and the rollup is O(candidates) into
    <= 11 buckets. The corpus is shingled ONCE (r15, guide §1.2): the
    shingle table is the first cut and the signature table derives
    from it — the pre-r15 shape scanned and re-shingled the corpus a
    second time for the exact-Jaccard side. At 100 TB the calibration
    runs on a SAMPLE of candidates (hash-filter on the pair key) — the
    report is distribution-level, so a 1% sample gives the same curve;
    sampling hook documented here rather than forced at test SF."""
    sh = reliable_checkpoint(
        with_shingles(_corpus_near(spark, sf_dir), 3)
        .select("doc_id", "shingles")
        .coalesce(8)
    )
    sig = reliable_checkpoint(_sig_from_shingled(sh))
    band_cols = [
        F.struct(
            F.lit(i).alias("band_idx"),
            F.md5(
                F.concat(
                    F.col(f"mh{2 * i}").cast("string"),
                    F.lit("_"),
                    F.col(f"mh{2 * i + 1}").cast("string"),
                )
            ).alias("bhash"),
        )
        for i in range(N_BANDS)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("b")).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.bhash").alias("bhash")
    )
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("a_id"), *[F.col(f"mh{j}").alias(f"a{j}") for j in range(N_HASHES)])
    sb = sig.select(F.col("doc_id").alias("b_id"), *[F.col(f"mh{j}").alias(f"b{j}") for j in range(N_HASHES)])
    matches = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(N_HASHES)
    )
    scored = pairs.join(sa, "a_id").join(sb, "b_id").select(
        "a_id", "b_id", matches.alias("matches")
    )
    ja = sh.select(F.col("doc_id").alias("a_id"), F.col("shingles").alias("sh_a"))
    jb = sh.select(F.col("doc_id").alias("b_id"), F.col("shingles").alias("sh_b"))
    joined = (
        scored.join(ja, "a_id")
        .join(jb, "b_id")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .select(
            "matches",
            (F.col("matches") / float(N_HASHES)).alias("est"),
            (
                F.col("n_inter").cast("double")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter"))
            ).alias("exact"),
        )
    )
    return (
        joined.groupBy(
            F.floor(F.col("matches") * 10.0 / N_HASHES).cast("long").alias("est_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            pround(F.avg("est"), 4).alias("mean_est"),
            pround(F.avg("exact"), 4).alias("mean_exact"),
            pround(F.avg(F.abs(F.col("est") - F.col("exact"))), 4).alias("mean_abs_err"),
            pround(F.min("exact"), 4).alias("min_exact"),
            pround(F.max("exact"), 4).alias("max_exact"),
        )
        .orderBy("est_bucket")
    )


# ---------------------------------------------------------------------------
# D181: checkpointed multi-round LSH dedup arrival loop (index compaction)
# ---------------------------------------------------------------------------


def _lsh_match_ids(
    probe_sig: DataFrame, index_sig: DataFrame, *, same_batch: bool = False
) -> DataFrame:
    """Distinct probe doc_ids with at least one index match at estimated
    Jaccard >= 0.49 (the a66/d131 rule): candidates from band-bucket
    equi-joins only (never all-pairs), re-scored on full-signature
    agreement. With ``same_batch=True`` the probe IS the index and a doc
    only matches SMALLER doc_ids — the keep-first-arrival rule for
    within-batch duplicates."""
    p = _bands_of(probe_sig).select(F.col("doc_id").alias("p_id"), "band_idx", "bhash")
    i = _bands_of(index_sig).select(
        F.col("doc_id").alias("i_id"),
        F.col("band_idx").alias("band_idx_i"),
        F.col("bhash").alias("bhash_i"),
    )
    cond = (F.col("band_idx") == F.col("band_idx_i")) & (
        F.col("bhash") == F.col("bhash_i")
    )
    if same_batch:
        cond = cond & (F.col("p_id") > F.col("i_id"))
    cand = p.join(i, cond).select("p_id", "i_id").distinct()
    sp = probe_sig.select(
        F.col("doc_id").alias("p_id"),
        *[F.col(f"mh{j}").alias(f"p_mh{j}") for j in range(N_HASHES)],
    )
    si = index_sig.select(
        F.col("doc_id").alias("i_id"),
        *[F.col(f"mh{j}").alias(f"i_mh{j}") for j in range(N_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"p_mh{j}") == F.col(f"i_mh{j}"), 1).otherwise(0)
        for j in range(N_HASHES)
    )
    return (
        cand.join(sp, "p_id")
        .join(si, "i_id")
        .filter(matches / float(N_HASHES) >= 0.49)
        .select(F.col("p_id").alias("doc_id"))
        .distinct()
    )


def _arrival_batch(d: DataFrame, r: int) -> DataFrame:
    """Synthetic arrival round r over the curated corpus ``d``:

    round 1: drop-last copies of every 20th doc (+1e6 — near-dups of
    the index, must drop) + token-REVERSED copies of doc_id%20==7
    (+3e6 — no shingle overlap with anything indexed, must accept);
    round 2: drop-first copies of every 20th doc (+2e6 — near-dups of
    the ORIGINAL corpus) + drop-last copies of round 1's reversed docs
    (+4e6 — near-dups of docs ACCEPTED IN ROUND 1, droppable only
    because the index grew between rounds) + token-reversed copies of
    doc_id%20==13 (+5e6 — fresh, must accept, so every round grows the
    index and no round's accepted set is vacuously empty)."""
    toks = F.split("text", " ")
    if r == 1:
        near = d.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ").alias("text"),
        )
        fresh = d.filter(F.col("doc_id") % 20 == 7).select(
            (F.col("doc_id") + 3_000_000).alias("doc_id"),
            F.array_join(F.reverse(toks), " ").alias("text"),
        )
    else:
        near = d.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.array_join(F.slice(toks, 2, F.size(toks) - 1), " ").alias("text"),
        )
        fresh = d.filter(F.col("doc_id") % 20 == 7).select(
            (F.col("doc_id") + 4_000_000).alias("doc_id"),
            F.array_join(
                F.slice(F.reverse(toks), 1, F.size(toks) - 1), " "
            ).alias("text"),
        )
        fresh2 = d.filter(F.col("doc_id") % 20 == 13).select(
            (F.col("doc_id") + 5_000_000).alias("doc_id"),
            F.array_join(F.reverse(toks), " ").alias("text"),
        )
        return near.unionByName(fresh).unionByName(fresh2)
    return near.unionByName(fresh)


_SQL_B1 = """
    SELECT doc_id + 1000000 AS doc_id,
           coalesce(array_to_string((string_split(text, ' '))[1:len(string_split(text, ' ')) - 1], ' '), '') AS text
    FROM documents WHERE doc_id % 20 = 0
    UNION ALL
    SELECT doc_id + 3000000 AS doc_id,
           coalesce(array_to_string(list_reverse(string_split(text, ' ')), ' '), '') AS text
    FROM documents WHERE doc_id % 20 = 7
"""

_SQL_B2 = """
    SELECT doc_id + 2000000 AS doc_id,
           coalesce(array_to_string(list_slice(string_split(text, ' '), 2, len(string_split(text, ' '))), ' '), '') AS text
    FROM documents WHERE doc_id % 20 = 0
    UNION ALL
    SELECT doc_id + 4000000 AS doc_id,
           coalesce(array_to_string(list_slice(list_reverse(string_split(text, ' ')), 1, len(string_split(text, ' ')) - 1), ' '), '') AS text
    FROM documents WHERE doc_id % 20 = 7
    UNION ALL
    SELECT doc_id + 5000000 AS doc_id,
           coalesce(array_to_string(list_reverse(string_split(text, ' ')), ' '), '') AS text
    FROM documents WHERE doc_id % 20 = 13
"""


def _sql_match_ids(probe_bands: str, index_bands: str, probe_sig: str,
                   index_sig: str, same: bool = False) -> str:
    extra = " AND n.doc_id > c.doc_id" if same else ""
    matches = " + ".join(
        f"CASE WHEN sn.mh{j} = sc.mh{j} THEN 1 ELSE 0 END" for j in range(N_HASHES)
    )
    return f"""
        SELECT DISTINCT p.p_id AS doc_id FROM (
            SELECT DISTINCT n.doc_id AS p_id, c.doc_id AS i_id
            FROM {probe_bands} n JOIN {index_bands} c
              ON n.band_idx = c.band_idx AND n.bhash = c.bhash{extra}
        ) p
        JOIN {probe_sig} sn ON sn.doc_id = p.p_id
        JOIN {index_sig} sc ON sc.doc_id = p.i_id
        WHERE ({matches}) / {float(N_HASHES)} >= 0.49
    """


def _d181_oracle() -> str:
    from ..functions.digest import sql_two_level_digest

    dg = sql_two_level_digest(
        "(SELECT round_id, CAST(doc_id AS VARCHAR) AS p"
        " FROM status_all WHERE status = 'accepted')",
        ["round_id"],
        "p",
        count_alias="n_accepted",
        digest_alias="accepted_md5",
    )
    return f"""
    WITH b1 AS ({_SQL_B1}),
    b2 AS ({_SQL_B2}),
    corpus_sig AS ({_sql_minhash_sig("SELECT doc_id, text FROM documents")}),
    b1_sig AS ({_sql_minhash_sig("SELECT doc_id, text FROM b1")}),
    b2_sig AS ({_sql_minhash_sig("SELECT doc_id, text FROM b2")}),
    corpus_bands AS ({_sql_bands("corpus_sig")}),
    b1_bands AS ({_sql_bands("b1_sig")}),
    b2_bands AS ({_sql_bands("b2_sig")}),
    r1_idx_drop AS ({_sql_match_ids("b1_bands", "corpus_bands", "b1_sig", "corpus_sig")}),
    r1_same_drop AS ({_sql_match_ids("b1_bands", "b1_bands", "b1_sig", "b1_sig", same=True)}),
    r1_status AS (
        SELECT CAST(1 AS INT) AS round_id, doc_id,
               CASE WHEN doc_id IN (SELECT doc_id FROM r1_idx_drop) THEN 'dropped_index'
                    WHEN doc_id IN (SELECT doc_id FROM r1_same_drop) THEN 'dropped_batch'
                    ELSE 'accepted' END AS status
        FROM b1
    ),
    index1_sig AS (
        SELECT * FROM corpus_sig
        UNION ALL
        SELECT s.* FROM b1_sig s
        JOIN r1_status st ON st.doc_id = s.doc_id AND st.status = 'accepted'
    ),
    index1_bands AS ({_sql_bands("index1_sig")}),
    r2_idx_drop AS ({_sql_match_ids("b2_bands", "index1_bands", "b2_sig", "index1_sig")}),
    r2_same_drop AS ({_sql_match_ids("b2_bands", "b2_bands", "b2_sig", "b2_sig", same=True)}),
    r2_status AS (
        SELECT CAST(2 AS INT) AS round_id, doc_id,
               CASE WHEN doc_id IN (SELECT doc_id FROM r2_idx_drop) THEN 'dropped_index'
                    WHEN doc_id IN (SELECT doc_id FROM r2_same_drop) THEN 'dropped_batch'
                    ELSE 'accepted' END AS status
        FROM b2
    ),
    index2_sig AS (
        SELECT * FROM index1_sig
        UNION ALL
        SELECT s.* FROM b2_sig s
        JOIN r2_status st ON st.doc_id = s.doc_id AND st.status = 'accepted'
    ),
    status_all AS (
        SELECT CAST(0 AS INT) AS round_id, doc_id, 'accepted' AS status FROM documents
        UNION ALL SELECT round_id, doc_id, status FROM r1_status
        UNION ALL SELECT round_id, doc_id, status FROM r2_status
    ),
    counts AS (
        SELECT round_id,
               CAST(count(*) AS BIGINT) AS n_arrived,
               CAST(sum(CASE WHEN status = 'dropped_index' THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_index,
               CAST(sum(CASE WHEN status = 'dropped_batch' THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_batch
        FROM status_all GROUP BY round_id
    ),
    idx AS (
        SELECT CAST(0 AS INT) AS round_id,
               CAST((SELECT count(*) FROM corpus_sig) AS BIGINT) AS index_size_after
        UNION ALL
        SELECT CAST(1 AS INT), CAST((SELECT count(*) FROM index1_sig) AS BIGINT)
        UNION ALL
        SELECT CAST(2 AS INT), CAST((SELECT count(*) FROM index2_sig) AS BIGINT)
    )
    SELECT c.round_id, c.n_arrived, c.n_dropped_index, c.n_dropped_batch,
           CAST(coalesce(d.n_accepted, 0) AS BIGINT) AS n_accepted,
           d.accepted_md5, i.index_size_after
    FROM counts c
    LEFT JOIN ({dg}) d ON d.round_id = c.round_id
    JOIN idx i ON i.round_id = c.round_id
    ORDER BY c.round_id
    """


@query(
    "d181_lsh_arrival_loop",
    tags=("D181", "A66", "D131", "D65", "D74"),
    oracle=_d181_oracle(),
)
def d181_lsh_arrival_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed multi-round LSH dedup — the production arrival loop
    (VERDICT r08 #6a) composing D65/a66/d131/d74's machinery: a curated
    corpus bootstraps a persisted signature index (round 0); each
    arriving batch signatures ONLY itself, probes the on-disk index for
    near-dups (drop), applies the keep-first rule within its own batch
    (drop vs any smaller-id same-batch arrival), then APPENDS the
    accepted signatures as a new on-disk index generation the next
    round probes (union of generations). Round 2's +4e6 docs are
    near-dups of docs accepted in round 1, so a correct answer REQUIRES
    the cross-round index growth; a loop that probes only the original
    corpus mis-accepts them and hash-mismatches.

    Per-round state on disk: status/round_id=r (arrival verdicts) and
    index/round_id=r (accepted-signature generations) in a per-call
    LoopState; the declared result is computed entirely
    from the persisted state (one fold over status + one fold over the
    generation tree), so the hash also proves the state survived the
    loop. Greedy-online semantics deliberately differ from d74's global
    batch closure: a doc whose only match was itself dropped is still
    dropped (conservative — transitively near the indexed survivor),
    and the oracle simulates the SAME per-round chain in SQL CTEs
    rather than a recursive closure.

    At 100 TB/day: per-arrival work is O(batch) signatures + a band
    equi-join against the index (shuffle keyed on (band_idx, bhash) —
    never all-pairs, the corpus text never re-shingled); the index
    update is a generational APPEND of O(batch) fixed-width signature
    rows (12 longs per doc — r15: the r14 shape re-wrote the merged
    O(corpus) index every round; probes read the union of generations,
    and offline compaction folds generations back together exactly like
    d192's layout-maintenance loop); the accepted-id digest is the
    shared two-level bucketed fold (functions/digest.py), so no reducer
    buffers a round's accepted set."""
    from pyspark.sql import Window as W

    from ..functions.digest import two_level_digest

    ls = LoopState(spark, "lsh_loop")
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))

    # round 0: bootstrap the persisted index + status ledger. The
    # status projection reads doc_id back off the just-written index
    # (column-pruned 1-col parquet scan) instead of re-shingling the
    # corpus through a second documents scan (r15, guide §2.3).
    index0 = ls.put(_minhash_sig(d), "index", 0)
    ls.put(index0.select("doc_id", F.lit("accepted").alias("status")), "status", 0)

    for r in (1, 2):
        index_sig = ls.upto("index", r - 1, index0.schema)
        batch = _arrival_batch(d, r)
        # signature WRITE as the lineage cut (the d184 pattern — one
        # compute+write pass where the r14 reliable_checkpoint paid a
        # persist+count pass AND a cache→checkpoint-file pass): the
        # persisted batch signatures feed the index probe, the
        # within-batch probe, the status join, and the index merge as
        # parquet reads — one evaluation, no forked lineage (the a66
        # lesson), and the signature generation is loop state anyway
        new_sig = ls.put(_minhash_sig(batch), "newsig", r)
        drop_idx = _lsh_match_ids(new_sig, index_sig).select(
            "doc_id", F.lit(1).alias("_di")
        )
        drop_same = _lsh_match_ids(new_sig, new_sig, same_batch=True).select(
            "doc_id", F.lit(1).alias("_db")
        )
        status_r = ls.put(
            batch.select("doc_id")
            .join(drop_idx, "doc_id", "left")
            .join(drop_same, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("_di") == 1, "dropped_index")
                .when(F.col("_db") == 1, "dropped_batch")
                .otherwise("accepted")
                .alias("status"),
            ),
            "status",
            r,
        )
        accepted = status_r.filter(F.col("status") == "accepted").select("doc_id")
        # generational append (r15): write ONLY the accepted arrivals as
        # generation r — the docstring's "amortizable with generational
        # layouts" made real. The r14 shape re-wrote the ENTIRE merged
        # index every round (O(corpus) write per arrival batch); probes
        # read the union of generations instead (one multi-path scan),
        # so per-arrival index I/O is O(batch). Values are identical:
        # union-of-generations == the compacted merge, row for row.
        ls.put(new_sig.join(accepted, "doc_id", "semi"), "index", r)

    status = ls.all("status")
    counts = status.groupBy("round_id").agg(
        F.count(F.lit(1)).alias("n_arrived"),
        F.sum((F.col("status") == "dropped_index").cast("int"))
        .cast("long")
        .alias("n_dropped_index"),
        F.sum((F.col("status") == "dropped_batch").cast("int"))
        .cast("long")
        .alias("n_dropped_batch"),
    )
    dg = two_level_digest(
        status.filter(F.col("status") == "accepted"),
        ["round_id"],
        F.col("doc_id").cast("string"),
        count_alias="n_accepted",
        digest_alias="accepted_md5",
    )
    # index_size_after(r) = |union of generations 0..r| — ONE read of
    # the generation tree with the partition column as the round key,
    # folded by a running sum over <= 3 per-generation counts (the r14
    # shape re-counted each compacted index: 3 scans of O(corpus) rows)
    sizes = (
        ls.all("index")
        .groupBy("round_id")
        .agg(F.count(F.lit(1)).alias("gen_n"))
        # bounded: <= 3 generation-count rows by construction
        .select(
            "round_id",
            F.sum("gen_n")
            .over(W.orderBy("round_id").rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast("long")
            .alias("index_size_after"),
        )
    )
    return (
        # left join: a round whose arrivals ALL drop has no digest group
        # — it must still report (n_accepted 0, digest NULL), not vanish
        counts.join(dg, "round_id", "left")
        .join(F.broadcast(sizes), "round_id")
        .select(
            "round_id",
            "n_arrived",
            "n_dropped_index",
            "n_dropped_batch",
            F.coalesce(F.col("n_accepted"), F.lit(0).cast("long")).alias("n_accepted"),
            "accepted_md5",
            "index_size_after",
        )
        .orderBy("round_id")
    )


# ---------------------------------------------------------------------------
# D200: incremental CDC chunk-index arrival loop (d195 at day 2)
# ---------------------------------------------------------------------------


def _d200_oracle() -> str:
    """Unroll the same 3-round greedy chain in CTEs: batch -> CDC chunk
    occurrences -> distinct -> dup-vs-index / new split -> index merge."""
    from .textstats import _cdc_sql_bp, _cdc_sql_chunks
    from ..functions.portable import sql_hash_long

    def batch_chunks(name: str, src: str) -> str:
        return f"""
    {name}_b AS (SELECT doc_id, ver, t, {_cdc_sql_bp('t')} AS bp FROM {src}),
    {name}_se AS (SELECT doc_id, ver, t,
                         [1] || list_transform(bp, p -> p + 1) AS s,
                         list_append(bp, len(t)) AS e
                  FROM {name}_b),
    {name} AS (SELECT doc_id, ver,
                      unnest({_cdc_sql_chunks('t', 's', 'e', distinct=False)}) AS h
               FROM {name}_se)"""

    idig = sql_hash_long("h", "idx|")

    def ledger(r: int) -> str:
        dup = (
            "0"
            if r == 0
            else f"(SELECT count(*) FROM dd{r} SEMI JOIN idx{r - 1} USING (h))"
        )
        return f"""
        SELECT {r} AS round_id,
               (SELECT count(*) FROM b{r}) AS n_docs,
               (SELECT count(*) FROM c{r}) AS n_chunk_occurrences,
               (SELECT count(*) FROM dd{r}) AS n_distinct,
               CAST({dup} AS BIGINT) AS n_dup_index,
               (SELECT count(*) FROM dd{r}) - CAST({dup} AS BIGINT) AS n_new,
               (SELECT count(*) FROM idx{r}) AS index_size,
               {sql_round(f'CAST({dup} AS DOUBLE) / (SELECT count(*) FROM dd{r})', 4)} AS dup_rate,
               (SELECT CAST(sum({idig}) AS BIGINT) FROM idx{r}) AS index_digest"""

    return f"""
    WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS t1
        FROM documents WHERE len(string_split(text, ' ')) >= 5
    ),
    b0 AS (SELECT doc_id, 1 AS ver, t1 AS t FROM docs WHERE doc_id % 3 = 0),
    b1 AS (SELECT doc_id, 1 AS ver, t1 AS t FROM docs WHERE doc_id % 3 = 1),
    b2 AS (SELECT doc_id, 1 AS ver, t1 AS t FROM docs WHERE doc_id % 3 = 2
           UNION ALL
           SELECT doc_id, 2 AS ver, list_slice(t1, 2, len(t1)) AS t
           FROM docs WHERE doc_id % 9 = 0),
    {batch_chunks('c0', 'b0').lstrip()},
    {batch_chunks('c1', 'b1').lstrip()},
    {batch_chunks('c2', 'b2').lstrip()},
    dd0 AS (SELECT DISTINCT h FROM c0),
    dd1 AS (SELECT DISTINCT h FROM c1),
    dd2 AS (SELECT DISTINCT h FROM c2),
    idx0 AS (SELECT h FROM dd0),
    new1 AS (SELECT h FROM dd1 ANTI JOIN idx0 USING (h)),
    idx1 AS (SELECT h FROM idx0 UNION ALL SELECT h FROM new1),
    new2 AS (SELECT h FROM dd2 ANTI JOIN idx1 USING (h)),
    idx2 AS (SELECT h FROM idx1 UNION ALL SELECT h FROM new2)
    SELECT * FROM (
        {ledger(0)}
        UNION ALL
        {ledger(1)}
        UNION ALL
        {ledger(2)}
    ) ORDER BY round_id
    """


@query("d200_chunk_index_loop", tags=("D200", "D195", "D131", "D181"),
       oracle=_d200_oracle())
def d200_chunk_index_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC chunk-index arrival loop — d195's property put to
    work (the storage-dedup form of the d181/d187 continual-curation
    shape): a persisted chunk-hash index is bootstrapped from the first
    corpus third; each arrival round CDC-chunks its batch, probes the
    index by an h-keyed equi-join, appends only never-seen chunk hashes,
    and ledgers per round: docs, chunk occurrences, distinct hashes,
    index hits, appends, index size, dup rate, and an index-membership
    digest. Round 2 mixes fresh docs with EDITED RE-ARRIVALS (the
    head-deleted variant of round-0 docs) — their chunks hit the index
    at the ~85% CDC reuse rate d195 pins, but ONLY if the index
    actually persisted across rounds, so the round-2 dup-rate jump is
    the cross-round-state proof (the d187 dup_index discipline).

    Scale shape: chunking is the d195 map-only projection and runs
    ONCE per round — the per-doc hash arrays are checkpointed so the
    ledger counts, the index probe, and the merge all read the
    materialized batch instead of re-chunking it; per-round work is
    O(batch) + ONE h-keyed join against the persisted index
    (never all-pairs, the corpus is never re-chunked); the index update
    appends only the round's never-seen hashes as a new generation (the
    d181 shape), so index size and digest fold per-generation sums
    instead of re-reading a merged O(index) copy; and the declared
    result is computed entirely FROM the persisted per-round ledger
    parquet (zero documents scans in the final plan).
    """
    from ..functions.portable import portable_hash_long
    from .textstats import with_cdc_chunks

    ls = LoopState(spark, "chunk_index")

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.size(F.split("text", " ")) >= 5)
        .select("doc_id", F.split("text", " ").alias("t1"))
    )

    def batch(r: int) -> DataFrame:
        if r < 2:
            return docs.filter(F.col("doc_id") % 3 == r).select(
                "doc_id", F.lit(1).alias("ver"), F.col("t1").alias("t")
            )
        fresh = docs.filter(F.col("doc_id") % 3 == 2).select(
            "doc_id", F.lit(1).alias("ver"), F.col("t1").alias("t")
        )
        rearrive = docs.filter(F.col("doc_id") % 9 == 0).select(
            "doc_id",
            F.lit(2).alias("ver"),
            F.slice("t1", 2, F.size("t1") - 1).alias("t"),
        )
        return fresh.unionByName(rearrive)

    from ..session import local_df, reliable_checkpoint

    ledger_rows = []
    index_size = index_digest = 0
    for r in range(3):
        b = batch(r)
        # chunk the batch ONCE: the checkpointed per-doc hash arrays
        # feed every downstream action (counts, index probe, append) —
        # without it each action would re-run the chunking projection
        hashes = reliable_checkpoint(
            with_cdc_chunks(b, "t", "hs", distinct=False).select(
                "doc_id", "ver", "hs"
            )
        )
        dd = hashes.select(F.explode("hs").alias("h")).distinct()
        # ONE pass over the checkpointed batch for both doc and
        # occurrence counts (r15, guide §1.2 — was two count() jobs)
        # bounded: 1-row aggregate
        docs_occ = hashes.agg(
            F.count(F.lit(1)).alias("nd"),
            F.coalesce(F.sum(F.size("hs")), F.lit(0)).alias("no"),
        ).collect()[0]
        n_docs, n_occ = int(docs_occ["nd"]), int(docs_occ["no"])
        if r == 0:
            n_dup = 0
            new = dd
        else:
            prev = ls.upto("index", r - 1, dd.schema)
            # O(batch) h-keyed probes against the persisted index: ONE
            # left join gives distinct AND dup counts in a single
            # distinct+join pass (was a left_semi count plus a separate
            # dd.count(), each re-running the distinct shuffle)
            # bounded: 1-row aggregate
            dist_dup = (
                dd.join(prev.select("h", F.lit(1).alias("_in")), "h", "left")
                .agg(
                    F.count(F.lit(1)).alias("nds"),
                    F.coalesce(F.sum("_in"), F.lit(0)).alias("ndup"),
                )
                .collect()[0]
            )
            n_distinct, n_dup = int(dist_dup["nds"]), int(dist_dup["ndup"])
            new = dd.join(prev, "h", "left_anti")
        # generational append (the d181 shape): generation r holds only
        # the round's never-seen hashes, so the index is the union of
        # generations 0..r and its size and membership digest are
        # running sums of per-generation counts and hash sums (32-bit
        # hashes: the long sums are exact)
        # bounded: 1-row per-generation size+digest agg
        gen = (
            ls.put(new, "index", r)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(portable_hash_long("h", "idx|")), F.lit(0)
                ).alias("dig"),
            )
            .collect()[0]
        )
        index_size += int(gen["n"])
        index_digest += int(gen["dig"])
        if r == 0:
            n_distinct = index_size
        ledger_rows.append(
            (
                r,
                n_docs,
                n_occ,
                n_distinct,
                n_dup,
                n_distinct - n_dup,
                index_size,
                float(n_dup) / n_distinct,
                index_digest,
            )
        )
    # ONE ledger write for the whole loop (r15 — was three 1-row write
    # jobs); the declared result reads ONLY that persisted state back
    ledger = ls.put(
        local_df(
            spark,
            ledger_rows,
            "round_id long, n_docs long, n_chunk_occurrences long, "
            "n_distinct long, n_dup_index long, n_new long, index_size long, "
            "dup_rate_raw double, index_digest long",
        ),
        "ledger",
    )
    return (
        ledger.select(
            "round_id",
            "n_docs",
            "n_chunk_occurrences",
            "n_distinct",
            "n_dup_index",
            "n_new",
            "index_size",
            pround(F.col("dup_rate_raw"), 4).alias("dup_rate"),
            "index_digest",
        )
        .orderBy("round_id")
    )


# ---------------------------------------------------------------------------
# D209: cross-source duplication matrix (who copies from whom)
# ---------------------------------------------------------------------------


@query(
    "d209_cross_source_dup_matrix",
    tags=("D209", "D65", "D170"),
    oracle="""
    WITH h AS (
        SELECT DISTINCT source,
               md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS ch
        FROM documents
    ),
    tot AS (SELECT source, count(*) AS n FROM h GROUP BY source),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS shared
        FROM h a JOIN h b ON a.ch = b.ch AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT p.source_a, p.source_b,
           CAST(p.shared AS BIGINT) AS shared_docs,
           CAST(ta.n AS BIGINT) AS n_a,
           CAST(tb.n AS BIGINT) AS n_b,
           floor(p.shared * 1.0 / least(ta.n, tb.n) * 10000.0 + 0.5) / 10000.0
               AS containment
    FROM pairs p
    JOIN tot ta ON ta.source = p.source_a
    JOIN tot tb ON tb.source = p.source_b
    ORDER BY source_a, source_b
    """,
)
def d209_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the provenance question behind
    every dedup yield number (d170 says HOW MUCH is duplicated; this
    says BETWEEN WHOM): for every source pair, the count of lead-prefix
    fingerprints (first 8 tokens — the syndication/scraper signature
    that survives boilerplate edits full-text hashing misses; this
    corpus has zero cross-source FULL-text duplicates, so the exact key
    would make the audit vacuous) present in both, and the containment
    ratio
    (shared / smaller side) that flags mirror/scraper relationships a
    curation pipeline should collapse at the SOURCE level instead of
    doc by doc.

    Scale shape: one prefix md5 per document (scan-stage projection), one
    distinct per (source, hash), then a hash-keyed self-equi-join
    restricted to source_a < source_b — matches only within identical
    content hashes, so the join output is bounded by the duplicate
    mass, never |corpus|²; per-source totals are an O(sources) frame
    joined back unhinted (source cardinality is data-derived, so AQE
    picks the strategy — the d936768 rule)."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.md5(F.array_join(F.slice(F.split("text", " "), 1, 8), " ")).alias("ch"),
    ).distinct()
    tot = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = d.select(F.col("source").alias("source_a"), "ch")
    b = d.select(F.col("source").alias("source_b"), "ch")
    pairs = (
        a.join(b, "ch")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        # unhinted: per-source totals are SF-proportional (the d936768
        # rule) — AQE broadcasts them while small
        pairs.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("shared").cast("long").alias("shared_docs"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            pround(
                F.col("shared") * 1.0 / F.least(F.col("n_a"), F.col("n_b")), 4
            ).alias("containment"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# D212: near-dup cluster chaining audit (transitivity of CC dedup)
# ---------------------------------------------------------------------------

_D212_LEVELS = 4  # progressive prefix truncations seeded per chain


def _d212_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + a 4-level truncation CHAIN for every 20th doc: level
    i keeps the first (100 - 15i)% of tokens (floor, min 3). Adjacent
    levels stay above the pairwise near-dup threshold while the deepest
    level falls below it against the ORIGINAL — the exact geometry that
    makes connected-components dedup chain unrelated-enough texts."""
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.split("text", " ")
    seed = d.filter(F.col("doc_id") % 20 == 0)
    out = d
    for i in range(1, _D212_LEVELS + 1):
        keep = F.greatest(
            F.floor(F.size(toks) * (100 - 15 * i) / 100).cast("int"), F.lit(3)
        )
        out = out.unionByName(
            seed.select(
                (F.col("doc_id") + i * 1_000_000).alias("doc_id"),
                F.array_join(F.slice(toks, 1, keep), " ").alias("text"),
            )
        )
    return out


def _d212_corpus_sql() -> str:
    parts = ["SELECT doc_id, text FROM documents"]
    for i in range(1, _D212_LEVELS + 1):
        parts.append(f"""
    SELECT doc_id + {i * 1_000_000} AS doc_id,
           coalesce(array_to_string(
               list_slice(toks, 1, greatest(
                   CAST(floor(len(toks) * {100 - 15 * i} / 100) AS INT), 3)), ' '), '')
               AS text
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    WHERE doc_id % 20 = 0""")
    return "\n    UNION ALL\n".join(parts)


@query(
    "d212_cluster_chaining_audit",
    tags=("D212", "D74", "A66", "D176"),
    oracle=f"""
    WITH RECURSIVE {_sql_scored_pairs(_d212_corpus_sql())},
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM scored_pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM scored_pairs
    ),
    reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    lab AS (
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    ),
    csize AS (SELECT cluster_id, count(*) AS sz FROM lab GROUP BY cluster_id),
    corpus AS ({_d212_corpus_sql()}),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(toks) - 2),
                             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
                   AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus)
        WHERE len(toks) >= 3
    ),
    mem AS (
        SELECT l.doc_id, l.cluster_id, c.sz,
               CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / (len(a.shingles) + len(b.shingles)
                    - len(list_intersect(a.shingles, b.shingles))) AS jac
        FROM lab l
        JOIN csize c ON c.cluster_id = l.cluster_id
        JOIN sh a ON a.doc_id = l.doc_id
        JOIN sh b ON b.doc_id = l.cluster_id
        WHERE l.doc_id <> l.cluster_id
    )
    SELECT CASE WHEN sz = 2 THEN '2' WHEN sz = 3 THEN '3'
                WHEN sz = 4 THEN '4' ELSE '5+' END AS size_bucket,
           CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN jac < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_chained,
           {sql_round("sum(CASE WHEN jac < 0.5 THEN 1.0 ELSE 0 END) / count(*)", 4)}
               AS chain_rate,
           {sql_round("min(jac)", 4)} AS min_jaccard,
           {sql_round("avg(jac)", 4)} AS avg_jaccard
    FROM mem
    GROUP BY size_bucket ORDER BY size_bucket
    """,
)
def d212_cluster_chaining_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster CHAINING audit — the known failure mode of
    connected-components dedup (d74): A~B and B~C merge A with C even
    when A and C are NOT near-dups, so a cluster's survivor silently
    'represents' texts it barely resembles. This audit seeds 4-level
    truncation chains (adjacent levels similar, endpoints not), runs
    the same LSH→score→min-label pipeline d74 ships, then measures
    every member's TRUE 3-gram Jaccard against its cluster survivor —
    ``n_chained`` / ``chain_rate`` count members below the pairwise
    threshold, i.e. exactly the texts transitivity smuggled in. The
    per-size-bucket ledger tells an operator how aggressive the
    cluster-collapse decision actually is before 100 TB of 'duplicates'
    get dropped.

    Scale shape: candidate pairs are the banded LSH equi-join (never
    all-pairs, the a66/d74 recipe); label propagation is d74's shared
    `_min_label_components` engine — convergence-detected min-label
    with pointer jumping, so the seeded diameter-≤4 chains converge in
    ~3 rounds while natural (non-seeded) components at larger SFs are
    covered to diameter 2^rounds (the oracle's recursive closure is
    exact, so under-propagation would hash-fail); the member-vs-survivor
    re-score is ONE keyed join per side against checkpointed shingles —
    O(cluster members), never O(cluster²)."""
    sig = reliable_checkpoint(
        _minhash_sig(_d212_corpus(spark, sf_dir)).coalesce(8)
    )
    band_cols = [
        F.struct(
            F.lit(i).alias("band_idx"),
            F.md5(
                F.concat(
                    F.col(f"mh{2 * i}").cast("string"),
                    F.lit("_"),
                    F.col(f"mh{2 * i + 1}").cast("string"),
                )
            ).alias("bhash"),
        )
        for i in range(N_BANDS)
    ]
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("b")
    ).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.bhash").alias("bhash")
    )
    left = bands.select(
        F.col("doc_id").alias("a_id"), "band_idx", F.col("bhash").alias("bhash_a")
    )
    right = bands.select(
        F.col("doc_id").alias("b_id"),
        F.col("band_idx").alias("band_idx_b"),
        F.col("bhash").alias("bhash_b"),
    )
    cand = (
        left.join(
            right,
            (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("bhash_a") == F.col("bhash_b"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .select("a_id", "b_id")
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"mh{j}").alias(f"a_mh{j}") for j in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"mh{j}").alias(f"b_mh{j}") for j in range(N_HASHES)],
    )
    n_match = sum(
        F.when(F.col(f"a_mh{j}") == F.col(f"b_mh{j}"), 1).otherwise(0)
        for j in range(N_HASHES)
    )
    pairs = (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .filter(n_match / float(N_HASHES) >= 0.49)
        .select("a_id", "b_id")
    )
    edges = reliable_checkpoint(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionByName(
            pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
        )
        .repartition("src")
    )
    # d74's shared component engine: convergence-detected min-label
    # propagation with pointer jumping (seeded chains converge in ~3
    # rounds; the safety bound covers diameter 2^rounds for natural
    # components — the ADVICE r11 robustness without fixed-round cost)
    labels = _min_label_components(edges, scratch_tag="d212")
    lab = labels.select(F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id"))
    csize = lab.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    sh = reliable_checkpoint(
        with_shingles(_d212_corpus(spark, sf_dir), 3)
        .select("doc_id", "shingles")
        .coalesce(8)
    )
    sh_m = sh.select(F.col("doc_id").alias("m_id"), F.col("shingles").alias("sh_m"))
    sh_r = sh.select(F.col("doc_id").alias("r_id"), F.col("shingles").alias("sh_r"))
    mem = (
        lab.filter(F.col("doc_id") != F.col("cluster_id"))
        .join(csize, "cluster_id")
        .join(sh_m, F.col("doc_id") == F.col("m_id"))
        .join(sh_r, F.col("cluster_id") == F.col("r_id"))
        .withColumn("n_inter", F.size(F.array_intersect("sh_m", "sh_r")))
        .withColumn(
            "jac",
            F.col("n_inter").cast("double")
            / (F.size("sh_m") + F.size("sh_r") - F.col("n_inter")),
        )
    )
    bucket = (
        F.when(F.col("sz") == 2, "2")
        .when(F.col("sz") == 3, "3")
        .when(F.col("sz") == 4, "4")
        .otherwise("5+")
    )
    chained = F.col("jac") < 0.5
    return (
        mem.select(bucket.alias("size_bucket"), "cluster_id", "jac")
        .groupBy("size_bucket")
        .agg(
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.when(chained, 1).otherwise(0)).cast("long").alias("n_chained"),
            pround(
                F.sum(F.when(chained, F.lit(1.0)).otherwise(0.0)) / F.count(F.lit(1)),
                4,
            ).alias("chain_rate"),
            pround(F.min("jac"), 4).alias("min_jaccard"),
            pround(F.avg("jac"), 4).alias("avg_jaccard"),
        )
        .orderBy("size_bucket")
    )


# ---------------------------------------------------------------------------
# D222: quality-weighted survivor selection (the curation dedup POLICY)
# ---------------------------------------------------------------------------

_D222_QUALITY_SQL = (
    "floor((0.5 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0)"
    " + 0.3 * least(CAST(len(list_filter(string_split(lower(text), ' '),"
    " t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'on', 'for', 'it')))"
    " AS DOUBLE) / len(string_split(text, ' ')) * 5, 1.0)"
    " + 0.2 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g'))"
    " AS DOUBLE) / length(text))) * 10000 + 0.5) / 10000"
)


@query(
    "d222_quality_survivor_policy",
    tags=("D222", "D74", "D69"),
    oracle=f"""
    WITH RECURSIVE {_sql_scored_pairs(_SQL_CORPUS_NEAR_CHAIN)},
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM scored_pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM scored_pairs
    ),
    reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    member AS (
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    ),
    corpus AS ({_SQL_CORPUS_NEAR_CHAIN}),
    feat AS (SELECT doc_id, {_D222_QUALITY_SQL} AS q FROM corpus),
    ranked AS (
        SELECT m.cluster_id, m.doc_id, f.q,
               row_number() OVER (PARTITION BY m.cluster_id
                                  ORDER BY f.q DESC, m.doc_id) AS rn
        FROM member m JOIN feat f USING (doc_id)
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS survivor_id,
           max(CASE WHEN rn = 1 THEN q END) AS survivor_quality,
           CAST(CASE WHEN max(CASE WHEN rn = 1 THEN doc_id END) <> cluster_id
                THEN 1 ELSE 0 END AS INT) AS policy_changed
    FROM ranked GROUP BY cluster_id ORDER BY cluster_id
    """,
)
def d222_quality_survivor_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor-selection POLICY for near-dup clusters: d74 keeps the
    min-id member (arrival order); real curation keeps the BEST copy —
    per cluster, the member with the highest d69 composite quality
    score (length + stopword + non-alpha features, rounded to 4dp so
    cross-engine ties are identical, doc_id ascending as the
    tie-break). ``policy_changed`` flags the clusters where the two
    policies disagree — the rows where switching policy actually
    changes the corpus (non-vacuous by construction: the perturbed
    copies in the seeded chains shift the quality features, and a
    drop-first copy that loses a leading non-alpha token can outscore
    its original).

    Plan shape: clustering reuses d74's exact pipeline
    (`_near_chain_cluster_labels` — banded LSH equi-join, shared
    convergence-detected CC engine); the quality features are one
    JVM-side projection over the corpus; member→quality is one keyed
    join; the survivor pick is one window over cluster members
    (partitioned by cluster — never global). At 100 TB this adds ONE
    corpus-projection + join to d74's cost; the policy is where the
    value is, not the plan."""
    from pyspark.sql import Window as W

    from .textstats import _STOPWORDS

    labels = _near_chain_cluster_labels(spark, sf_dir, scratch_tag="d222")
    corpus = _corpus_near_chain(spark, sf_dir)
    toks = F.split("text", " ")
    ltoks = F.split(F.lower("text"), " ")
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    n_nonalpha = n_chars - F.length(F.regexp_replace("text", "[^a-z ]", ""))
    n_stop = F.size(F.filter(ltoks, lambda t: t.isin(*_STOPWORDS)))
    q = pround(
        F.lit(0.5) * F.least(n_tokens.cast("double") / 100, F.lit(1.0))
        + F.lit(0.3)
        * F.least(n_stop.cast("double") / n_tokens * 5, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - n_nonalpha.cast("double") / n_chars),
        4,
    )
    feat = corpus.select("doc_id", q.alias("q"))
    members = labels.select(
        F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id")
    ).join(feat, "doc_id")
    w = W.partitionBy("cluster_id").orderBy(F.col("q").desc(), F.col("doc_id"))
    ranked = members.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id")))
            .cast("long")
            .alias("survivor_id"),
            F.max(F.when(F.col("rn") == 1, F.col("q"))).alias(
                "survivor_quality"
            ),
        )
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "n_members",
            "survivor_id",
            "survivor_quality",
            (F.col("survivor_id") != F.col("cluster_id"))
            .cast("int")
            .alias("policy_changed"),
        )
        .orderBy("cluster_id")
    )
