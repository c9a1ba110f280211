"""Training-data pipeline operators (the 100 TB curation surface).

Beyond dedup/similarity/textstats, a large-scale pretraining pipeline
needs: repetition-based quality signals (the Gopher-rules family),
deterministic stratified sampling, train/val/test splitting,
benchmark-contamination screening, sequence packing toward a token
budget, and mixture rebalancing across languages/domains. Each is a
pure DataFrame computation over ``documents`` with a DuckDB oracle —
no reference analog exists (the reference is an IDS ETL), so these
cite the public recipes they implement instead.

Scale notes: every operator here is one scan + at most one shuffle on
an explicit key (doc_id / n-gram hash / stratum), no driver-side loops;
the only window (sequence packing) is partitioned by language shard.
Determinism: all randomness is the portable md5 hash — identical in
Spark and DuckDB, so sampling decisions are hash-checkable, not
statistical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import fan_out, load_table
from ..functions.digest import sql_two_level_digest, two_level_digest
from ..functions.portable import portable_hash_long, pround, sql_hash_long, sql_round
from ..functions.shingles import explode_shingles
from ..operators.loopstate import LoopState
from ..operators.prefix import PrefixStage, ordered_prefix, ordered_prefix_chain
from ..registry import query
from ..session import reliable_checkpoint


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# D76: repetition / quality signals (Gopher-style rules)
# ---------------------------------------------------------------------------


@query(
    "d76_quality_repetition",
    tags=("D76", "D69"),
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks
        FROM documents
    ),
    base AS (
        SELECT doc_id, lang,
               len(toks) AS n_toks,
               len(list_distinct(toks)) AS n_distinct,
               list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
        FROM t
        WHERE len(toks) >= 2
    ),
    bi AS (
        SELECT doc_id, unnest(bigrams) AS gram FROM base
    ),
    top_bi AS (
        SELECT doc_id, max(c) AS top_cnt
        FROM (SELECT doc_id, gram, count(*) AS c FROM bi GROUP BY doc_id, gram)
        GROUP BY doc_id
    ),
    per_doc AS (
        SELECT b.lang,
               1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_toks AS dup_tok_frac,
               CAST(tb.top_cnt AS DOUBLE) / (b.n_toks - 1) AS top_bigram_frac
        FROM base b JOIN top_bi tb USING (doc_id)
    )
    SELECT lang,
           count(*) AS n_docs,
           {sql_round("avg(dup_tok_frac)", 4)} AS avg_dup_tok_frac,
           {sql_round("avg(top_bigram_frac)", 4)} AS avg_top_bigram_frac,
           {sql_round("max(top_bigram_frac)", 4)} AS max_top_bigram_frac
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
)
def d76_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals per document, rolled up per
    language: duplicate-token fraction (1 - distinct/total) and the
    most-frequent-bigram fraction — the Gopher-rules repetition family
    (Rae et al. 2021, public). A pretraining filter drops documents
    above thresholds; the rollup keeps the declared result small while
    exercising the full per-doc computation.

    Plan shape: tokenize + distinct-count are per-row expressions; the
    top-bigram mode is one explode + two-level groupBy keyed on
    (doc_id, gram) then doc_id — shuffles on the doc axis only, never
    collects per-doc state to the driver."""
    t = fan_out(_docs(spark, sf_dir)).withColumn("toks", F.split("text", " ")).filter(
        F.size("toks") >= 2
    )
    base = t.select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_toks"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
    )
    # Bigram stream via explode_shingles (position-sequence explode):
    # exploding a transform()-built gram array lets Catalyst inline the
    # builder into Generate, which re-evaluates it per OUTPUT row — O(g²)
    # per doc (see functions/shingles.py). The position explode is O(g).
    top_bi = (
        explode_shingles(t, 2, keep=("doc_id",))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"))
    )
    per_doc = base.join(top_bi, "doc_id").select(
        "lang",
        (F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_toks")).alias(
            "dup_tok_frac"
        ),
        (F.col("top_cnt").cast("double") / (F.col("n_toks") - 1)).alias(
            "top_bigram_frac"
        ),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            pround(F.avg("dup_tok_frac"), 4).alias("avg_dup_tok_frac"),
            pround(F.avg("top_bigram_frac"), 4).alias("avg_top_bigram_frac"),
            pround(F.max("top_bigram_frac"), 4).alias("max_top_bigram_frac"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# D77: deterministic stratified sampling
# ---------------------------------------------------------------------------

# Rates held as integer basis points: float rates diverge across engines
# (Spark double 0.3*10000 -> 2999.99... truncates to 2999; DuckDB DECIMAL
# math yields exactly 3000), so the threshold is integral by construction.
_STRATA_RATES_BP = {"en": 5000, "zh": 3000, "es": 3000, "de": 3000, "fr": 3000}


@query(
    "d77_stratified_sample",
    tags=("D77", "D40"),
    oracle=f"""
    WITH rates(lang, rate_bp) AS (
        VALUES ('en', 5000), ('zh', 3000), ('es', 3000), ('de', 3000), ('fr', 3000)
    ),
    sampled AS (
        SELECT d.lang
        FROM documents d JOIN rates r USING (lang)
        WHERE ({sql_hash_long("d.doc_id", "strat7|")} % 10000) < r.rate_bp
    )
    SELECT lang, count(*) AS n_sampled
    FROM sampled GROUP BY lang ORDER BY lang
    """,
)
def d77_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic hash sampling: each language keeps a
    different fraction, decided by md5(doc_id) — reproducible across
    engines, runs and cluster sizes (no RNG state, no per-partition
    seed drift). This is how a curation pipeline downsamples dominant
    languages/domains; the filter is a pure per-row predicate, so it
    pushes into the scan stage and shuffles nothing."""
    rates = F.create_map(
        *[F.lit(x) for kv in _STRATA_RATES_BP.items() for x in kv]
    )
    d = _docs(spark, sf_dir)
    kept = d.filter(
        (portable_hash_long("doc_id", "strat7|") % 10000)
        < rates[F.col("lang")].cast("long")
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled")).orderBy("lang")


# ---------------------------------------------------------------------------
# D78: train/val/test split
# ---------------------------------------------------------------------------


@query(
    "d78_train_val_test_split",
    tags=("D78", "D40"),
    oracle=f"""
    WITH assigned AS (
        SELECT lang,
               CASE WHEN ({sql_hash_long("doc_id", "split1|")} % 10) < 8 THEN 'train'
                    WHEN ({sql_hash_long("doc_id", "split1|")} % 10) = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, lang, count(*) AS n
    FROM assigned GROUP BY split, lang ORDER BY split, lang
    """,
)
def d78_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split by hashed doc_id. Hash-assignment
    (not ordering or RNG) keeps membership stable when the corpus grows
    — a re-run after appending new documents never moves an existing
    document across splits, which is the property eval hygiene needs."""
    b = portable_hash_long("doc_id", "split1|") % 10
    assigned = _docs(spark, sf_dir).select(
        "lang",
        F.when(b < 8, "train").when(b == 8, "val").otherwise("test").alias("split"),
    )
    return (
        assigned.groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# D79: benchmark-contamination screen (n-gram overlap)
# ---------------------------------------------------------------------------


@query(
    "d79_contamination_screen",
    tags=("D79", "A66", "D17"),
    oracle=f"""
    WITH bench AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE source = 'src0'
    ),
    train AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
        WHERE source <> 'src0'
    ),
    bench_grams AS (
        SELECT DISTINCT unnest(list_transform(range(1, len(toks) - 3),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS gram
        FROM bench WHERE len(toks) >= 5
    ),
    train_grams AS (
        SELECT doc_id, lang, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS gram
        FROM train WHERE len(toks) >= 5
    ),
    contaminated AS (
        SELECT DISTINCT t.doc_id, t.lang
        FROM train_grams t JOIN bench_grams b USING (gram)
    )
    SELECT t.lang,
           count(DISTINCT t.doc_id) AS n_train_docs,
           count(DISTINCT c.doc_id) AS n_contaminated
    FROM train t LEFT JOIN contaminated c ON t.doc_id = c.doc_id AND t.lang = c.lang
    GROUP BY t.lang ORDER BY t.lang
    """,
)
def d79_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: a training document is flagged if
    it shares ANY 5-gram with the held-out benchmark set (source
    'src0' stands in for an eval suite). The standard decontamination
    recipe (e.g. GPT-3 appendix C / open reproductions): exact n-gram
    collision, not similarity.

    Plan shape: both sides explode to distinct 5-grams; the collision
    is a semi-join keyed on the gram — at 100 TB the benchmark side is
    tiny (eval suites are MBs), so it broadcasts and the train side
    never shuffles; here both sides are synthetic so the join key is
    the gram hash either way."""
    # the test corpus is one parquet row group = one scan task; shingling
    # is the compute-heavy stage, so spread it (at 100 TB the scan has
    # thousands of natural splits and fan_out is a no-op by design)
    docs = fan_out(_docs(spark, sf_dir))
    bench = (
        explode_shingles(docs.filter(F.col("source") == "src0"), 5, keep=())
        .distinct()
    )
    train = docs.filter(F.col("source") != "src0")
    train_grams = explode_shingles(train, 5)
    contaminated = (
        train_grams.join(F.broadcast(bench), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_contaminated", F.lit(1))
    )
    return (
        train.join(contaminated, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_train_docs"),
            F.countDistinct(
                F.when(F.col("is_contaminated") == 1, F.col("doc_id"))
            ).alias("n_contaminated"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# D80: sequence packing toward a token budget
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512


@query(
    "d80_sequence_packing",
    tags=("D80", "D35"),
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks
        FROM documents
    ),
    packed AS (
        SELECT lang, n_toks,
               CAST(floor((sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks)
                          / {_PACK_BUDGET}.0) AS BIGINT) AS seq_id
        FROM toks
    )
    SELECT lang,
           count(DISTINCT seq_id) AS n_sequences,
           {sql_round(f"avg(CAST(n_docs AS DOUBLE))", 3)} AS avg_docs_per_seq,
           CAST(max(seq_tokens) AS BIGINT) AS max_seq_tokens
    FROM (
        SELECT lang, seq_id, count(*) AS n_docs, sum(n_toks) AS seq_tokens
        FROM packed GROUP BY lang, seq_id
    )
    GROUP BY lang ORDER BY lang
    """,
)
def d80_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents (in stable doc_id order,
    sharded by language) to training sequences by their starting offset
    in the running token stream — seq_id = floor((cumsum - n_toks) /
    budget). This is offset-based packing: deterministic, one window
    pass, no greedy bin-packing loop; a document that straddles a
    boundary belongs to the sequence where it starts (the tokenizer
    truncates/continues downstream).

    The running token cursor rides the GROUPED DISTRIBUTED PREFIX
    (operators/prefix.py group_cols — the d186 operator), not a
    ``Window.partitionBy(lang)``: the per-lang window is value-
    identical (the oracle below IS that window SQL) but serializes
    each language through one reducer chain — 5 languages = 5 tasks
    whether the corpus is 5 GB or 100 TB. The grouped prefix range-
    partitions on (lang, doc_id) so a hot language spans many buckets
    (VERDICT r10 #2; value identity pinned by the d186 oracle and
    test_grouped_prefix_equals_naive_grouped_window)."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_toks")
    )
    pref = ordered_prefix(
        toks, ["doc_id"], group_cols=["lang"], running={"_run_toks": "n_toks"}
    )
    packed = pref.withColumn(
        "seq_id",
        F.floor((F.col("_run_toks") - F.col("n_toks")) / float(_PACK_BUDGET)),
    )
    per_seq = packed.groupBy("lang", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("seq_tokens")
    )
    return (
        per_seq.groupBy("lang")
        .agg(
            F.countDistinct("seq_id").alias("n_sequences"),
            pround(F.avg(F.col("n_docs").cast("double")), 3).alias("avg_docs_per_seq"),
            F.max("seq_tokens").alias("max_seq_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# D81: mixture rebalancing (downsample to the smallest stratum)
# ---------------------------------------------------------------------------


@query(
    "d81_mixture_rebalance",
    tags=("D81", "D77"),
    oracle=f"""
    WITH counts AS (
        SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ),
    floorrate AS (
        SELECT lang, n,
               CAST(floor((SELECT min(n) FROM counts) * 10000.0 / n) AS BIGINT) AS rate_bp
        FROM counts
    ),
    kept AS (
        SELECT d.lang
        FROM documents d JOIN floorrate r USING (lang)
        WHERE ({sql_hash_long("d.doc_id", "mix3|")} % 10000) < r.rate_bp
    )
    SELECT f.lang, f.n AS n_before, count(k.lang) AS n_after
    FROM floorrate f LEFT JOIN kept k ON f.lang = k.lang
    GROUP BY f.lang, f.n ORDER BY f.lang
    """,
)
def d81_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: compute per-language counts, derive the
    hash-sampling rate that levels every language to (about) the
    smallest one, apply it deterministically. Two-pass shape — a tiny
    per-stratum aggregate (broadcast back) then a pure per-row filter;
    at 100 TB the counts side is |languages| rows, so the rebalance
    costs one scan plus one broadcast join, no repartition of the
    corpus."""
    d = _docs(spark, sf_dir)
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    min_n = counts.agg(F.min("n").alias("min_n"))
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        # floor() on BOTH sides: DuckDB CAST(DOUBLE AS BIGINT) rounds to
        # nearest while Spark .cast('long') truncates — explicit floor makes
        # the basis-point threshold engine-independent at boundary values.
        "lang", "n", F.floor(F.col("min_n") * 10000 / F.col("n")).alias("rate_bp")
    )
    kept = (
        d.join(F.broadcast(rates), "lang")
        .filter((portable_hash_long("doc_id", "mix3|") % 10000) < F.col("rate_bp"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            F.col("n").alias("n_before"),
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# D100: temperature-based mixture sampling
# ---------------------------------------------------------------------------


@query(
    "d100_temperature_sampling",
    tags=("D100", "D81"),
    oracle=f"""
    WITH counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ),
    rates AS (
        SELECT lang, n,
               CAST(floor(10000.0 * sqrt((SELECT min(n) FROM counts) * 1.0 / n)) AS BIGINT) AS rate_bp
        FROM counts
    ),
    kept AS (
        SELECT d.lang
        FROM documents d JOIN rates r USING (lang)
        WHERE ({sql_hash_long("d.doc_id", "temp5|")} % 10000) < r.rate_bp
    )
    SELECT r.lang, r.n AS n_before, r.rate_bp,
           CAST(count(k.lang) AS BIGINT) AS n_after
    FROM rates r LEFT JOIN kept k ON r.lang = k.lang
    GROUP BY r.lang, r.n, r.rate_bp ORDER BY r.lang
    """,
)
def d100_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (alpha = 0.5): flatten the
    language mixture PART of the way to uniform rather than all the way
    (d81) — the standard multilingual-pretraining recipe (alpha-scaled
    sampling as in mBERT/XLM-R and UNIMAX-style caps). With
    p_l proportional to n_l^alpha and the budget pinned so the rarest
    language keeps all its documents, the per-language keep rate
    reduces to (n_min/n_l)^(1-alpha) — sqrt for alpha = 0.5; alpha = 0
    degenerates to d81's full leveling, alpha = 1 to no resampling.
    Same scale shape as d81: one tiny per-stratum aggregate broadcast
    back, then a pure per-row hash filter — no corpus shuffle. sqrt is
    IEEE-identical in both engines, so the basis-point thresholds (and
    therefore membership) are deterministic."""
    d = _docs(spark, sf_dir)
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    min_n = counts.agg(F.min("n").alias("min_n"))
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        "lang",
        "n",
        F.floor(10000.0 * F.sqrt(F.col("min_n") / F.col("n"))).alias("rate_bp"),
    )
    kept = (
        d.join(F.broadcast(rates), "lang")
        .filter((portable_hash_long("doc_id", "temp5|") % 10000) < F.col("rate_bp"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            F.col("n").alias("n_before"),
            "rate_bp",
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# D88: PII redaction
# ---------------------------------------------------------------------------

# Patterns restricted to syntax that Java regex (Spark) and RE2 (DuckDB)
# evaluate identically: character classes, bounded repetition, no
# backrefs/lookaround.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+\d[\d ]{5,}\d"
_PII_IP = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"

# documents carry no PII, so the corpus injects synthetic markers
# deterministically (same construction in both engines): every 7th doc
# an email, every 11th an IPv4, every 13th a phone number.
_SQL_CORPUS_PII = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 7 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                     || CAST(doc_id % 100 AS VARCHAR) || ' logged'
                ELSE '' END
           || CASE WHEN doc_id % 13 = 0
                THEN ' call +1 555 ' || CAST(1000000 + doc_id AS VARCHAR) || ' today'
                ELSE '' END AS pii_text
    FROM documents
"""


@query(
    "d88_pii_redaction",
    tags=("D88", "D69"),
    oracle=f"""
    WITH p AS ({_SQL_CORPUS_PII})
    SELECT doc_id,
           CAST(len(regexp_extract_all(pii_text, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(pii_text, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(pii_text, '{_PII_IP}')) AS BIGINT) AS n_ip,
           md5(regexp_replace(regexp_replace(regexp_replace(pii_text,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IP}', '<IP>', 'g')) AS redacted_md5
    FROM p
    WHERE len(regexp_extract_all(pii_text, '{_PII_EMAIL}'))
        + len(regexp_extract_all(pii_text, '{_PII_PHONE}'))
        + len(regexp_extract_all(pii_text, '{_PII_IP}')) > 0
    ORDER BY doc_id
    """,
)
def d88_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the standard pre-training redaction pass (emails,
    phone numbers, IPv4 addresses → typed placeholder tokens), as run by
    every public corpus pipeline (e.g. the C4/Dolma cleanup recipes).
    Counts are taken pre-redaction; the redacted text is verified by
    md5. Pure per-row regexp projection: no shuffle, no UDF — at 100 TB
    this runs entirely inside the scan stage."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    pii_text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" from 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0."),
                (F.col("doc_id") % 100).cast("string"),
                F.lit(" logged"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" call +1 555 "),
                (F.lit(1_000_000) + F.col("doc_id")).cast("string"),
                F.lit(" today"),
            ),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("pii_text"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return (
        d.withColumn("pii_text", pii_text)
        .select(
            "doc_id",
            F.regexp_count("pii_text", F.lit(_PII_EMAIL)).cast("long").alias("n_email"),
            F.regexp_count("pii_text", F.lit(_PII_PHONE)).cast("long").alias("n_phone"),
            F.regexp_count("pii_text", F.lit(_PII_IP)).cast("long").alias("n_ip"),
            F.md5(redacted).alias("redacted_md5"),
        )
        .filter(F.col("n_email") + F.col("n_phone") + F.col("n_ip") > 0)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# D89: intra-document repetition removal (line dedup)
# ---------------------------------------------------------------------------


@query(
    "d89_intradoc_line_dedup",
    tags=("D89", "D76"),
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    lined AS (
        SELECT doc_id,
               list_transform(
                   generate_series(0, CAST(ceil(len(toks) / 8.0) AS BIGINT) - 1),
                   i -> array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' ')
               ) AS lines0
        FROM t
    ),
    dup AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN list_append(lines0, lines0[1]) ELSE lines0 END AS lines
        FROM lined
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(list_distinct(lines)) AS BIGINT) AS n_unique,
           CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS n_removed,
           md5(array_to_string(list_sort(list_distinct(lines)), chr(10))) AS kept_md5
    FROM dup
    WHERE len(lines) > len(list_distinct(lines))
    ORDER BY doc_id
    """,
)
def d89_intradoc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition removal: split each document into
    8-token lines, drop duplicate lines, report how much was removed —
    the within-doc analog of corpus dedup (repeated boilerplate
    paragraphs are the classic web-scrape failure mode; cf. the C4 "three
    sentence dedup" rule). documents has no repeated lines, so every 5th
    doc gets its first line re-appended (same construction both engines);
    any *natural* 8-token chunk collision is caught identically too.

    The kept-lines fingerprint is md5 over the SORTED unique lines:
    Spark's array_distinct is first-occurrence-ordered but DuckDB's
    list_distinct is unordered, so the sorted canon is the portable
    check (counts pin the multiset sizes).

    Pure per-row array computation — no explode, no shuffle; at 100 TB
    this is a map-only pass inside the scan stage."""
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("toks"))
    lines0 = F.transform(
        F.sequence(
            F.lit(0), F.ceil(F.size("toks") / F.lit(8.0)).cast("long") - 1
        ),
        lambda i: F.array_join(F.slice(F.col("toks"), i * 8 + 1, 8), " "),
    )
    lines = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.col("lines0"), F.array(F.col("lines0")[0]))
    ).otherwise(F.col("lines0"))
    return (
        d.withColumn("lines0", lines0)
        .withColumn("lines", lines)
        .select(
            "doc_id",
            F.size("lines").cast("long").alias("n_lines"),
            F.size(F.array_distinct("lines")).cast("long").alias("n_unique"),
            (F.size("lines") - F.size(F.array_distinct("lines")))
            .cast("long")
            .alias("n_removed"),
            F.md5(
                F.array_join(F.array_sort(F.array_distinct("lines")), "\n")
            ).alias("kept_md5"),
        )
        .filter(F.col("n_lines") > F.col("n_unique"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# D122: weighted sampling without replacement (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------

_WSAMPLE_K = 100


@query(
    "d122_weighted_sample",
    tags=("D122", "D77", "D40"),
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
               -- u in (0,1) from the portable hash; key = u^(1/w) via
               -- exp(ln(u)/w) (same IEEE ops in both engines)
               exp(ln(({sql_hash_long("doc_id", "ws|")} + 1.0) / 4294967297.0) / n_chars) AS k
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, CAST(w AS BIGINT) AS weight, {sql_round("k", 6)} AS sample_key, rk
    FROM (
        SELECT doc_id, w, k,
               row_number() OVER (ORDER BY k DESC, doc_id) AS rk
        FROM keyed
    ) WHERE rk <= {_WSAMPLE_K}
    ORDER BY rk
    """,
)
def d122_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k=100, weight = n_chars —
    the Efraimidis-Spirakis one-pass scheme (key = u^(1/w), keep the k
    largest keys), which is how a curation pipeline draws a
    size-biased subcorpus in one scan: no global state, no sequential
    draws, mergeable across partitions (each partition keeps its local
    top-k; the driver merges — exactly Spark's TakeOrdered).

    Determinism: u derives from the portable md5 hash of doc_id
    (never engine-native rand()), so the drawn sample is hash-checked
    against the oracle, not statistically compared. exp/ln/division
    are IEEE-identical across engines.

    Plan shape: scan-stage key projection + TakeOrdered(k) — zero
    shuffles beyond the per-partition top-k merge; at 100 TB this
    samples a trillion-row corpus with O(k) driver traffic."""
    docs = fan_out(_docs(spark, sf_dir)).filter(F.col("n_chars") > 0)
    u = (portable_hash_long("doc_id", "ws|") + F.lit(1.0)) / F.lit(4294967297.0)
    keyed = docs.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("w"),
        F.exp(F.log(u) / F.col("n_chars")).alias("k"),
    )
    top = keyed.orderBy(F.col("k").desc(), F.col("doc_id").asc()).limit(_WSAMPLE_K)
    w = Window.orderBy(F.col("k").desc(), F.col("doc_id").asc())
    return (
        top.withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            F.col("w").cast("long").alias("weight"),
            pround("k", 6).alias("sample_key"),
            "rk",
        )
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# D125: cross-source quantile normalization of quality scores
# ---------------------------------------------------------------------------


@query(
    "d125_quantile_calibration",
    tags=("D125", "D76", "D34"),
    oracle=f"""
    WITH ranked AS (
        SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS score,
               row_number() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id) AS r
        FROM documents
    ),
    ref AS (
        SELECT r, avg(score) AS ref_score FROM ranked GROUP BY r
    )
    SELECT ranked.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           {sql_round("avg(ref.ref_score - ranked.score)", 6)} AS mean_shift,
           {sql_round("max(abs(ref.ref_score - ranked.score))", 6)} AS max_abs_shift
    FROM ranked JOIN ref USING (r)
    GROUP BY ranked.source
    ORDER BY ranked.source
    """,
)
def d125_quantile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of a per-document quality
    score (here n_chars stands in for the filter score): rank documents
    within each source, define the reference distribution as the
    cross-source mean at each rank (the classic quantile-normalization
    construction — sources are equal-sized in this corpus), and report
    how far each source's distribution sits from the reference
    (mean/max calibration shift). This is how a curation pipeline
    detects that one crawl's "quality 0.8" means something different
    from another's before applying a global threshold.

    Plan shape: one window shuffle on source assigns ranks, one rank-
    keyed aggregate builds the O(docs-per-source) reference, one join
    back on rank (both sides already rank-keyed) and a final
    source-keyed rollup — all keyed partial-agg stages, no driver
    traffic. The rank-keyed reference is O(n/k) rows for k sources;
    at 100 TB you'd bucket ranks (ntile) instead of exact ranks,
    which is the same plan with a coarser key."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    ranked = docs.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("double").alias("score"),
        F.row_number().over(w).alias("r"),
    )
    ref = ranked.groupBy("r").agg(F.avg("score").alias("ref_score"))
    shift = F.col("ref_score") - F.col("score")
    return (
        ranked.join(ref, "r")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            pround(F.avg(shift), 6).alias("mean_shift"),
            pround(F.max(F.abs(shift)), 6).alias("max_abs_shift"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# D166: benchmark containment ratio (graded decontamination)
# ---------------------------------------------------------------------------

# Overlap fractions above which a doc is reported contaminated /
# suspect. D79 is the boolean any-collision screen; real pipelines
# grade by the FRACTION of a doc's n-grams found in the benchmark
# (e.g. the Llama/GPT-4 "dirty if > X% token overlap" rules).
_CONTAIN_HI_BP = 5000  # >= 50% => contaminated
_CONTAIN_LO_BP = 2000  # >= 20% => suspect


@query(
    "d166_containment_ratio",
    tags=("D166", "D79", "D17"),
    oracle=f"""
    WITH bench_grams AS (
        SELECT DISTINCT unnest(list_transform(range(1, len(toks) - 3),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS gram
        FROM (SELECT string_split(text, ' ') AS toks FROM documents WHERE source = 'src0')
        WHERE len(toks) >= 5
    ),
    train_grams AS (
        SELECT doc_id, lang, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS gram
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
              WHERE source <> 'src0')
        WHERE len(toks) >= 5
    ),
    per_doc AS (
        SELECT t.doc_id, t.lang,
               count(*) AS n_grams,
               sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
        FROM train_grams t LEFT JOIN bench_grams b USING (gram)
        GROUP BY t.doc_id, t.lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           {sql_round("avg(CAST(n_hit AS DOUBLE) / n_grams)", 6)} AS avg_containment,
           {sql_round("max(CAST(n_hit AS DOUBLE) / n_grams)", 6)} AS max_containment,
           CAST(sum(CASE WHEN n_hit * 10000 >= n_grams * {_CONTAIN_HI_BP}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(sum(CASE WHEN n_hit * 10000 >= n_grams * {_CONTAIN_LO_BP}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def d166_containment_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded benchmark decontamination: per training document, the
    FRACTION of its distinct 5-grams that appear in the benchmark set
    (source 'src0'), rolled up per language with contaminated
    (>= 50%) / suspect (>= 20%) counts. D79 answers "touches the
    benchmark at all?"; this is the graded rule production pipelines
    apply (drop above a high threshold, audit the band below it).
    Threshold compares use integer basis points (n_hit*10000 >=
    n_grams*bp) so no float boundary can split the engines.

    Plan shape: distinct per-doc gram stream (one (doc,gram)-keyed
    partial-agg shuffle), LEFT join against the broadcast benchmark
    gram set (eval suites are MBs at any corpus scale — the probe side
    never shuffles for the membership test), one doc-keyed count
    rollup, one lang rollup. Never all-pairs, never a corpus
    self-join."""
    docs = fan_out(_docs(spark, sf_dir))
    bench = (
        explode_shingles(docs.filter(F.col("source") == "src0"), 5, keep=())
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    train = docs.filter(F.col("source") != "src0")
    tg = explode_shingles(train, 5, keep=("doc_id", "lang")).distinct()
    per_doc = (
        tg.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
    )
    ratio = F.col("n_hit").cast("double") / F.col("n_grams")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            pround(F.avg(ratio), 6).alias("avg_containment"),
            pround(F.max(ratio), 6).alias("max_containment"),
            F.sum(
                (F.col("n_hit") * 10000 >= F.col("n_grams") * _CONTAIN_HI_BP).cast("long")
            ).alias("n_contaminated"),
            F.sum(
                (F.col("n_hit") * 10000 >= F.col("n_grams") * _CONTAIN_LO_BP).cast("long")
            ).alias("n_suspect"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# D167: leakage-safe grouped train/val/test split
# ---------------------------------------------------------------------------


@query(
    "d167_grouped_split",
    tags=("D167", "D78"),
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               source || '/' || CAST(doc_id % 7 AS VARCHAR) AS grp
        FROM documents
    ),
    assigned AS (
        SELECT doc_id, grp,
               CASE WHEN ({sql_hash_long("grp", "gsplit|")} % 10) < 8 THEN 'train'
                    WHEN ({sql_hash_long("grp", "gsplit|")} % 10) = 8 THEN 'val'
                    ELSE 'test' END AS g_split,
               CASE WHEN ({sql_hash_long("doc_id", "gsplit|")} % 10) < 8 THEN 'train'
                    WHEN ({sql_hash_long("doc_id", "gsplit|")} % 10) = 8 THEN 'val'
                    ELSE 'test' END AS r_split
        FROM d
    ),
    by_group AS (
        SELECT grp,
               count(DISTINCT g_split) AS g_spread,
               count(DISTINCT r_split) AS r_spread
        FROM assigned GROUP BY grp
    ),
    splits AS (
        SELECT g_split AS split, count(*) AS n_docs, count(DISTINCT grp) AS n_groups
        FROM assigned GROUP BY g_split
    )
    SELECT s.split, CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(s.n_groups AS BIGINT) AS n_groups,
           CAST(x.leaky_grouped AS BIGINT) AS leaky_grouped,
           CAST(x.leaky_rowwise AS BIGINT) AS leaky_rowwise
    FROM splits s CROSS JOIN (
        SELECT sum(CASE WHEN g_spread > 1 THEN 1 ELSE 0 END) AS leaky_grouped,
               sum(CASE WHEN r_spread > 1 THEN 1 ELSE 0 END) AS leaky_rowwise
        FROM by_group
    ) x
    ORDER BY s.split
    """,
)
def d167_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: assignment hashes the GROUP
    (site/domain — synthesized as source + a 7-way page-path mod, sized
    so groups hold several documents at every SF: the leakage audit is
    vacuous over singleton groups), not the row, so near-duplicate
    documents from one site can never straddle train and test
    (GroupShuffleSplit semantics). The audit columns make the guarantee
    checkable AND non-vacuous: groups spanning >1 split under
    group-hash (must be 0) vs under the naive row-hash of D78
    (positive at every SF — the leakage a row-wise split silently
    accepts).

    Plan shape: assignment is a scan-stage projection of the group key
    (splits stay stable as the corpus grows, the D78 property lifted to
    groups); the audit is one group-keyed partial-agg shuffle over
    O(groups) rows plus a 1-row broadcast of the leak totals. At
    100 TB: one keyed shuffle, no fact re-scan."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.col("source"), F.lit("/"), (F.col("doc_id") % 7).cast("string")).alias("grp"),
    )
    gb = portable_hash_long("grp", "gsplit|") % 10
    rb = portable_hash_long("doc_id", "gsplit|") % 10
    assigned = d.select(
        "doc_id",
        "grp",
        F.when(gb < 8, "train").when(gb == 8, "val").otherwise("test").alias("g_split"),
        F.when(rb < 8, "train").when(rb == 8, "val").otherwise("test").alias("r_split"),
    )
    by_group = assigned.groupBy("grp").agg(
        F.count_distinct("g_split").alias("g_spread"),
        F.count_distinct("r_split").alias("r_spread"),
    )
    leaks = by_group.agg(
        F.sum((F.col("g_spread") > 1).cast("long")).alias("leaky_grouped"),
        F.sum((F.col("r_spread") > 1).cast("long")).alias("leaky_rowwise"),
    )
    splits = assigned.groupBy(F.col("g_split").alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("grp").alias("n_groups"),
    )
    return splits.crossJoin(F.broadcast(leaks)).orderBy("split")


# ---------------------------------------------------------------------------
# D173: token-budget mixture allocation (waterfilling)
# ---------------------------------------------------------------------------

# Budget = 60% of corpus tokens; per-source priority weights 1..5 derive
# from the portable hash of the source name (deterministic, SF-stable).
_BUDGET_NUM, _BUDGET_DEN = 6, 10


@query(
    "d173_token_budget_waterfill",
    tags=("D173", "D81", "D35"),
    oracle=f"""
    WITH caps AS (
        SELECT source,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cap,
               CAST(1 + {sql_hash_long("source", "mixw|")} % 5 AS BIGINT) AS w
        FROM documents GROUP BY source
    ),
    ranked AS (
        SELECT source, cap, w,
               sum(cap) OVER () AS t,
               sum(w) OVER () AS tw,
               sum(cap) OVER (ORDER BY cap * 1.0 / w, source
                              ROWS UNBOUNDED PRECEDING) AS ck,
               sum(w) OVER (ORDER BY cap * 1.0 / w, source
                            ROWS UNBOUNDED PRECEDING) AS wk
        FROM caps
    ),
    budgeted AS (
        SELECT *, CAST(floor({_BUDGET_NUM} * t / {_BUDGET_DEN}.0) AS BIGINT) AS b
        FROM ranked
    ),
    sat AS (
        SELECT *,
               CASE WHEN tw > wk AND cap * (tw - wk) < w * (b - ck)
                    THEN 1 ELSE 0 END AS saturated
        FROM budgeted
    ),
    leveled AS (
        SELECT *,
               (b - sum(CASE WHEN saturated = 1 THEN cap ELSE 0 END) OVER ()) * 1.0
               / (tw - sum(CASE WHEN saturated = 1 THEN w ELSE 0 END) OVER ())
                   AS level
        FROM sat
    )
    SELECT source,
           cap AS capacity_tokens,
           w AS weight,
           CAST(saturated AS INT) AS saturated,
           {sql_round("CASE WHEN saturated = 1 THEN cap ELSE level * w END", 4)}
               AS allocated_tokens,
           {sql_round("CASE WHEN saturated = 1 THEN 1.0 ELSE level * w / cap END", 6)}
               AS keep_rate,
           CAST(1 AS INT) AS budget_met
    FROM leveled ORDER BY source
    """,
)
def d173_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture allocation by exact waterfilling: given a
    corpus-wide token budget (60% of total) and per-source priority
    weights, allocate each source min(capacity, λ·weight) where λ is
    the water level that spends the budget exactly — the epoch-planning
    step run before D81's rebalance filter, telling the pipeline which
    sources saturate (keep everything) and what keep-rate the rest get.

    The water level has a CLOSED FORM over windows (no solver loop):
    sort sources by capacity/weight ascending; a source is saturated
    iff cap·(W − W_k) < w·(B − C_k) with C_k/W_k the running sums —
    an ALL-INTEGER predicate (no float boundary can split the engines),
    verified equivalent to iterative waterfilling on 20k random
    instances. λ then derives from the saturated sums, and the
    budget_met flag (Σ alloc == B within 0.5 tokens) is literal-pinned
    in the oracle, so an arithmetic defect fails the driver hash.

    Plan shape: one source-keyed partial-agg shuffle builds the
    O(sources) capacity table; everything after runs on bounded
    whole-table windows over those rows. At 100 TB the corpus is
    touched once; the solve is sketch-sized."""
    d = _docs(spark, sf_dir)
    caps = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("cap"),
        F.any_value(
            (1 + portable_hash_long("source", "mixw|") % 5).cast("long")
        ).alias("w"),
    )
    w_all = Window.partitionBy().rowsBetween(  # bounded: O(sources) rows
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ratio = F.col("cap") * 1.0 / F.col("w")
    w_run = Window.orderBy(ratio, "source").rowsBetween(  # bounded: O(sources) rows
        Window.unboundedPreceding, Window.currentRow
    )
    r = caps.select(
        "source",
        "cap",
        "w",
        F.sum("cap").over(w_all).alias("t"),
        F.sum("w").over(w_all).alias("tw"),
        F.sum("cap").over(w_run).alias("ck"),
        F.sum("w").over(w_run).alias("wk"),
    ).withColumn(
        "b", F.floor(F.lit(_BUDGET_NUM) * F.col("t") / float(_BUDGET_DEN)).cast("long")
    )
    sat = r.withColumn(
        "saturated",
        (
            (F.col("tw") > F.col("wk"))
            & (F.col("cap") * (F.col("tw") - F.col("wk"))
               < F.col("w") * (F.col("b") - F.col("ck")))
        ).cast("int"),
    )
    leveled = sat.withColumn(
        "level",
        (
            F.col("b")
            - F.sum(F.when(F.col("saturated") == 1, F.col("cap")).otherwise(0)).over(w_all)
        )
        * 1.0
        / (
            F.col("tw")
            - F.sum(F.when(F.col("saturated") == 1, F.col("w")).otherwise(0)).over(w_all)
        ),
    )
    alloc = F.when(F.col("saturated") == 1, F.col("cap").cast("double")).otherwise(
        F.col("level") * F.col("w")
    )
    achieved = F.sum(alloc).over(w_all)  # bounded: O(sources) rows
    return leveled.select(
        "source",
        F.col("cap").alias("capacity_tokens"),
        F.col("w").alias("weight"),
        "saturated",
        pround(alloc, 4).alias("allocated_tokens"),
        pround(
            F.when(F.col("saturated") == 1, F.lit(1.0)).otherwise(
                F.col("level") * F.col("w") / F.col("cap")
            ),
            6,
        ).alias("keep_rate"),
        (F.abs(achieved - F.col("b")) < 0.5).cast("int").alias("budget_met"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# D183: end-to-end curation DAG with per-stage yield ledger
# ---------------------------------------------------------------------------

_D183_QUALITY_MIN_TOKS = 20
_D183_QUALITY_UNIQ_PERMILLE = 360  # keep if uniq_cnt/tok_cnt >= 0.360
_D183_SHARD_TOKENS = 2048

_D183_SQL = f"""
    WITH docs AS (SELECT doc_id, text, lang FROM documents),
    corpus AS (
        SELECT doc_id, text, lang FROM docs
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text, lang
        FROM docs WHERE doc_id % 10 = 0
    ),
    base AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS tok_cnt,
               len(list_distinct(string_split(text, ' '))) AS uniq_cnt,
               md5(text) AS h,
               md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS pfx8
        FROM corpus
    ),
    evalset AS (
        SELECT DISTINCT
               md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS pfx8
        FROM docs WHERE doc_id % 97 = 0
    ),
    f1 AS (
        SELECT b.*,
               (b.tok_cnt >= {_D183_QUALITY_MIN_TOKS}
                AND b.uniq_cnt * 1000 >= b.tok_cnt * {_D183_QUALITY_UNIQ_PERMILLE}) AS s1k,
               (e.pfx8 IS NOT NULL) AS contaminated
        FROM base b LEFT JOIN evalset e USING (pfx8)
    ),
    f2 AS (
        SELECT *,
               (s1k AND row_number() OVER (
                    PARTITION BY h ORDER BY CAST(s1k AS INT) DESC, doc_id) = 1) AS s2k
        FROM f1
    ),
    f3 AS (SELECT *, (s2k AND NOT contaminated) AS s3k FROM f2),
    f4 AS (
        SELECT *,
               (s3k AND 5 * sum(CASE WHEN s3k THEN tok_cnt ELSE 0 END) OVER (
                            PARTITION BY lang ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    <= 4 * sum(CASE WHEN s3k THEN tok_cnt ELSE 0 END) OVER (
                            PARTITION BY lang)) AS s4k
        FROM f3
    ),
    f5 AS (
        SELECT *, (s4k AND {sql_hash_long("doc_id", "d183|split|")} % 10 < 8) AS s5k
        FROM f4
    ),
    f6 AS (
        SELECT *,
               lang || '#' || CAST(CAST(floor(
                   (sum(CASE WHEN s5k THEN tok_cnt ELSE 0 END) OVER (
                        PARTITION BY lang ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - CASE WHEN s5k THEN tok_cnt ELSE 0 END)
                   / {_D183_SHARD_TOKENS}.0) AS BIGINT) AS VARCHAR) AS shard
        FROM f5
    ),
    exploded AS (
        SELECT 0 AS stage_idx, 'scan' AS stage,
               CAST(doc_id AS VARCHAR) || '|' || h AS payload, tok_cnt FROM f6
        UNION ALL
        SELECT 1, 'quality', CAST(doc_id AS VARCHAR) || '|' || h, tok_cnt
        FROM f6 WHERE s1k
        UNION ALL
        SELECT 2, 'exact_dedup', CAST(doc_id AS VARCHAR) || '|' || h, tok_cnt
        FROM f6 WHERE s2k
        UNION ALL
        SELECT 3, 'decontaminate', CAST(doc_id AS VARCHAR) || '|' || h, tok_cnt
        FROM f6 WHERE s3k
        UNION ALL
        SELECT 4, 'mixture_budget', CAST(doc_id AS VARCHAR) || '|' || h, tok_cnt
        FROM f6 WHERE s4k
        UNION ALL
        SELECT 5, 'split_train', CAST(doc_id AS VARCHAR) || '|' || h, tok_cnt
        FROM f6 WHERE s5k
        UNION ALL
        SELECT 6, 'pack', CAST(doc_id AS VARCHAR) || '|' || h || '|' || shard, tok_cnt
        FROM f6 WHERE s5k
    ),
    ledger_docs AS ({{LEDGER_A}}),
    shardrows AS (
        SELECT shard, count(*) AS n_docs, sum(tok_cnt) AS stoks
        FROM f6 WHERE s5k GROUP BY shard
    ),
    manifest0 AS ({{LEDGER_B}}),
    ledger AS (
        SELECT stage_idx, stage, n_out, tokens_out, digest FROM ledger_docs
        UNION ALL
        SELECT 7 AS stage_idx, 'manifest' AS stage, n_out, tokens_out, digest
        FROM manifest0
    )
    SELECT CAST(stage_idx AS INT) AS stage_idx, stage,
           coalesce(lag(n_out) OVER (ORDER BY stage_idx), n_out) AS n_in,
           n_out, tokens_out, digest
    FROM ledger ORDER BY stage_idx
"""

_D183_SQL = _D183_SQL.format(
    LEDGER_A=sql_two_level_digest(
        "exploded",
        ["stage_idx", "stage"],
        "payload",
        count_alias="n_out",
        sum_exprs={"tokens_out": "tok_cnt"},
    ),
    LEDGER_B=sql_two_level_digest(
        "shardrows",
        [],
        "shard || '|' || CAST(n_docs AS VARCHAR) || '|' || CAST(stoks AS VARCHAR)",
        count_alias="n_out",
        sum_exprs={"tokens_out": "stoks"},
    ),
)


@query("d183_curation_dag", tags=("D183",), oracle=_D183_SQL)
def d183_curation_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation DAG in ONE lineage with a per-stage yield
    ledger — the artifact a real 100 TB curation run ships (VERDICT r09
    #4). The inventory has every stage as a standalone operator (d76
    quality, d65/a66 dedup, d79/d166 decontamination, d81/d173 mixture,
    d78/d167 split, d80 packing, d101 shards); this composite chains
    simplified, hash-checkable forms of all of them over a single scan
    of ``documents`` and accounts every drop.

    Stages (each keep-decision is a COLUMN, not a rescan):
      0 scan           corpus = documents + exact copies of every 10th
                       doc at doc_id+1e6 (dedup stage is non-vacuous)
      1 quality        tok_cnt >= 20 AND uniq/total >= 0.36 (integer
                       arithmetic — no float threshold divergence)
      2 exact_dedup    min-doc_id survivor per md5(text), decided among
                       quality survivors via one (h)-keyed row_number
      3 decontaminate  drop docs whose first-8-token prefix hash occurs
                       in the held-out eval set (doc_id % 97 == 0)
      4 mixture_budget per-lang 80% token budget, doc_id-ordered prefix
                       (running*5 <= total*4: exact integer compare)
      5 split_train    portable-hash split, 80% train
      6 pack           offset-based packing into 2048-token shards per
                       lang (the d80 rule); payload binds doc -> shard
      7 manifest       one row per shard (n_docs, token sum) folded to
                       a manifest digest — what a downstream trainer
                       consumes

    Output: 8 ledger rows (stage_idx, stage, n_in, n_out, tokens_out,
    digest) — n_in of stage k is n_out of k-1, every drop is accounted,
    and the digest pins stage MEMBERSHIP (doc_id|content-hash payload,
    shard-qualified for pack), so a stage that drops the wrong rows
    fails the hash even when counts coincide.

    Plan shape (pinned in test_plans): every stage flag is computed in
    one pass of window/join columns over the corpus — no per-stage
    rescan — and the flagged frame is reliable_checkpoint'ed and shared
    by the doc-stage ledger and the shard manifest (Catalyst does not
    reuse subtrees across union branches — the checkpoint is the
    deliberate materialization; the returned plan reads ONLY the
    checkpoint, zero parquet scans). The stage explosion is an array
    explode of 7 (stage, keep, payload) structs per doc, so the ledger
    is one keyed aggregation over <= 7x|corpus| rows, two-level-digested
    (bounded buffers).

    Scale: per-lang running token cursors ride the grouped distributed
    prefix (operators/prefix.py group_cols — registered as d186, also
    used by d80 and d187's incremental form of this DAG; VERDICT r10
    #2): two chained STAGES fused onto one range-partition
    materialization (ordered_prefix_chain, VERDICT r11 #3 — the pack
    cursor depends on the mixture cursor's outcome, but its derivation
    is row-local, so one _pid assignment serves both) — never a
    per-language serial window (5 languages = 5 reducer chains at any
    SF). The eval-prefix join is
    unhinted (eval sets are SF-proportional; AQE broadcasts at bench
    scale and sort-merges at 100 TB, the d936768 discipline);
    everything else is keyed shuffles. Nothing reaches the driver."""
    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang"
    )
    corpus = fan_out(docs.unionByName(dups))
    toks = F.split("text", " ")
    base = corpus.select(
        "doc_id",
        "lang",
        F.size(toks).alias("tok_cnt"),
        F.size(F.array_distinct(toks)).alias("uniq_cnt"),
        F.md5("text").alias("h"),
        F.md5(F.array_join(F.slice(toks, 1, 8), " ")).alias("pfx8"),
    )
    eval_pfx = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(
            F.md5(F.array_join(F.slice(F.split("text", " "), 1, 8), " ")).alias(
                "pfx8"
            )
        )
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )

    w_dup = Window.partitionBy("h").orderBy(
        F.col("s1k").cast("int").desc(), "doc_id"
    )

    # Per-lang running token cursors ride the grouped distributed
    # prefix (VERDICT r10 #2 — the scale-correct form d186 proves and
    # d187 already uses): two CHAINED stages because the pack cursor
    # (_s5_run) depends on s4k/s5k, which depend on the mixture cursor
    # (_s3_run). Both stages share ONE range-partition materialization
    # via ordered_prefix_chain (VERDICT r11 #3 — the second stage's
    # derive is row-local over stage-1 outputs, so one _pid assignment
    # serves both and the corpus is exchanged/persisted once, not
    # twice); value-identical to the per-lang window SQL the oracle
    # keeps.
    staged = (
        base.join(eval_pfx, "pfx8", "left")
        .withColumn(
            "s1k",
            (F.col("tok_cnt") >= _D183_QUALITY_MIN_TOKS)
            & (F.col("uniq_cnt") * 1000 >= F.col("tok_cnt") * _D183_QUALITY_UNIQ_PERMILLE),
        )
        .withColumn("s2k", F.col("s1k") & (F.row_number().over(w_dup) == 1))
        .withColumn("s3k", F.col("s2k") & F.col("contaminated").isNull())
        .withColumn(
            "_s3_tok", F.when(F.col("s3k"), F.col("tok_cnt")).otherwise(F.lit(0))
        )
    )

    def _derive_pack(cur):
        return (
            cur.withColumn(
                "s4k",
                F.col("s3k") & (F.col("_s3_run") * 5 <= F.col("_s3_tot") * 4),
            )
            .withColumn(
                "s5k",
                F.col("s4k")
                & (portable_hash_long(F.col("doc_id"), "d183|split|") % 10 < 8),
            )
            .withColumn(
                "_s5_tok",
                F.when(F.col("s5k"), F.col("tok_cnt")).otherwise(F.lit(0)),
            )
        )

    staged = ordered_prefix_chain(
        staged,
        ["doc_id"],
        group_cols=["lang"],
        stages=[
            PrefixStage(
                running={"_s3_run": "_s3_tok"}, totals={"_s3_tot": "_s3_tok"}
            ),
            PrefixStage(derive=_derive_pack, running={"_s5_run": "_s5_tok"}),
        ],
    )
    flagged = staged.withColumn(
        "shard",
        F.concat_ws(
            "#",
            F.col("lang"),
            F.floor(
                (F.col("_s5_run") - F.col("_s5_tok")) / float(_D183_SHARD_TOKENS)
            ).cast("string"),
        ),
    ).select("doc_id", "lang", "tok_cnt", "h", "shard",
             "s1k", "s2k", "s3k", "s4k", "s5k")
    # ONE materialization shared by the doc-stage ledger and the shard
    # manifest (no subtree reuse across union branches otherwise).
    flagged = reliable_checkpoint(flagged)

    doc_pay = F.concat_ws("|", F.col("doc_id"), F.col("h"))
    pack_pay = F.concat_ws("|", F.col("doc_id"), F.col("h"), F.col("shard"))
    stage_defs = [
        (0, "scan", F.lit(True), doc_pay),
        (1, "quality", F.col("s1k"), doc_pay),
        (2, "exact_dedup", F.col("s2k"), doc_pay),
        (3, "decontaminate", F.col("s3k"), doc_pay),
        (4, "mixture_budget", F.col("s4k"), doc_pay),
        (5, "split_train", F.col("s5k"), doc_pay),
        (6, "pack", F.col("s5k"), pack_pay),
    ]
    stage_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage_idx"),
                F.lit(nm).alias("stage"),
                keep.alias("keep"),
                pay.alias("payload"),
            )
            for i, nm, keep, pay in stage_defs
        ]
    )
    doc_stages = (
        flagged.select("tok_cnt", F.explode(stage_arr).alias("s"))
        .filter(F.col("s.keep"))
        .select(
            F.col("s.stage_idx").alias("stage_idx"),
            F.col("s.stage").alias("stage"),
            F.col("s.payload").alias("payload"),
            "tok_cnt",
        )
    )
    ledger_docs = two_level_digest(
        doc_stages,
        ["stage_idx", "stage"],
        F.col("payload"),
        count_alias="n_out",
        sum_cols={"tokens_out": "tok_cnt"},
    )
    shards = (
        flagged.filter("s5k")
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("tok_cnt").alias("stoks"))
    )
    manifest = two_level_digest(
        shards,
        [],
        F.concat_ws("|", F.col("shard"), F.col("n_docs"), F.col("stoks")),
        count_alias="n_out",
        sum_cols={"tokens_out": "stoks"},
    ).select(
        F.lit(7).alias("stage_idx"),
        F.lit("manifest").alias("stage"),
        "n_out",
        "tokens_out",
        "digest",
    )
    ledger = ledger_docs.unionByName(manifest)
    w_seq = Window.orderBy("stage_idx")  # 8 rows: single partition is fine
    return ledger.select(
        "stage_idx",
        "stage",
        F.coalesce(F.lag("n_out").over(w_seq), F.col("n_out")).alias("n_in"),
        "n_out",
        "tokens_out",
        "digest",
    ).orderBy("stage_idx")


# ---------------------------------------------------------------------------
# D186: grouped distributed prefix (per-group running sums at scale)
# ---------------------------------------------------------------------------


@query(
    "d186_grouped_prefix_budget",
    tags=("D186", "D35", "D81"),
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks
        FROM documents
    ),
    pref AS (
        SELECT lang, doc_id, n_toks,
               sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rk,
               sum(n_toks) OVER (PARTITION BY lang) AS total_toks,
               count(*) OVER (PARTITION BY lang) AS n_docs
        FROM toks
    )
    SELECT lang,
           CAST(max(n_docs) AS BIGINT) AS n_docs,
           CAST(max(total_toks) AS BIGINT) AS total_toks,
           CAST(min(doc_id) AS BIGINT) AS boundary_doc_id,
           CAST(arg_min(running, doc_id) AS BIGINT) AS boundary_running,
           CAST(arg_min(rk, doc_id) AS BIGINT) AS boundary_rank
    FROM pref
    WHERE running * 5 > total_toks * 4
    GROUP BY lang ORDER BY lang
    """,
)
def d186_grouped_prefix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped distributed prefix (the operators/prefix.py two-phase
    pass, generalized to per-group order): per-language running token
    totals and ranks over ``documents``, folded to each language's 80%
    token-budget boundary — the scale-correct form of D183's mixture
    stage and D80's packing cursor.

    Why it exists: ``Window.partitionBy(lang).orderBy(doc_id)`` is
    value-correct but serializes each language through ONE reducer
    chain — 5 languages = 5 tasks whether the corpus is 5 GB or 100 TB.
    ``ordered_prefix(group_cols=['lang'])`` range-partitions on
    (lang, doc_id) into n_parts buckets (a hot language spans many
    buckets), computes per-(lang, bucket) partials, windows only the
    O(groups x n_parts) partial rows for offsets, and shifts the
    within-bucket running sums — identical arithmetic, no per-group
    serial chain (pinned by test_grouped_prefix_parallelizes_groups;
    value-identity vs the window formulation is this query's oracle,
    which IS the naive window SQL).

    Output: per language, the first document (doc_id order) whose
    running total crosses 80% of the language's tokens — integer
    arithmetic only (running*5 > total*4)."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_toks")
    )
    pref = ordered_prefix(
        toks,
        ["doc_id"],
        group_cols=["lang"],
        running={"running": "n_toks"},
        row_number="rk",
        totals={"total_toks": "n_toks"},
        count_total="n_docs",
    )
    return (
        pref.filter(F.col("running") * 5 > F.col("total_toks") * 4)
        .groupBy("lang")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("total_toks").alias("total_toks"),
            F.min("doc_id").alias("boundary_doc_id"),
            F.min_by("running", "doc_id").alias("boundary_running"),
            F.min_by("rk", "doc_id").cast("long").alias("boundary_rank"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# D187: incremental curation arrival loop (the D183 chain at day 2)
# ---------------------------------------------------------------------------


def _d187_sql_batch(r: int) -> str:
    """Round-r arrival batch, derived deterministically from documents."""
    if r == 0:
        return "SELECT 0 AS round_id, doc_id, text, lang FROM documents"
    if r == 1:
        return """
        SELECT 1 AS round_id, doc_id + 2000000 AS doc_id,
               text || ' nova' AS text, lang
        FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT 1, doc_id + 3000000, text, lang
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT 1, doc_id + 6000000, text || ' nova', lang
        FROM documents WHERE doc_id % 5 = 0 AND doc_id % 13 = 0
        """
    return """
        SELECT 2 AS round_id, doc_id + 4000000 AS doc_id,
               text || ' nova' AS text, lang
        FROM documents WHERE doc_id % 5 = 0 AND doc_id % 3 = 0
        UNION ALL
        SELECT 2, doc_id + 5000000, text || ' novb', lang
        FROM documents WHERE doc_id % 11 = 0
        """


def _d187_sql_flags(b: str, idx: str) -> str:
    """Status classification of one batch CTE against one index CTE."""
    return f"""
    SELECT x.round_id, x.doc_id, x.lang, x.toks, x.h,
           CASE WHEN NOT x.q THEN 'quality_fail'
                WHEN x.di THEN 'dup_index'
                WHEN x.rn > 1 THEN 'dup_batch'
                WHEN x.ct THEN 'contaminated'
                ELSE 'accepted' END AS status
    FROM (
        SELECT b.round_id, b.doc_id, b.lang, b.toks, b.h, b.q, b.ct,
               (i.h IS NOT NULL) AS di,
               row_number() OVER (
                   PARTITION BY b.h
                   ORDER BY CAST(b.q AS INT) DESC, (i.h IS NOT NULL), b.doc_id
               ) AS rn
        FROM {b} b LEFT JOIN {idx} i ON i.h = b.h
    ) x
    """


def _d187_oracle() -> str:
    quality = (
        f"(len(string_split(text, ' ')) >= {_D183_QUALITY_MIN_TOKS}"
        f" AND len(list_distinct(string_split(text, ' '))) * 1000"
        f" >= len(string_split(text, ' ')) * {_D183_QUALITY_UNIQ_PERMILLE})"
    )
    prep = (
        "SELECT round_id, doc_id, lang,"
        " len(string_split(text, ' ')) AS toks,"
        f" md5(text) AS h, {quality} AS q,"
        " (md5(array_to_string((string_split(text, ' '))[1:8], ' '))"
        "  IN (SELECT pfx8 FROM evalset)) AS ct"
    )
    dg = sql_two_level_digest(
        "allacc",
        ["round_id", "lang"],
        "CAST(doc_id AS VARCHAR) || '|' || h",
        count_alias="_n_dg",
        digest_alias="accepted_md5",
    )
    return f"""
    WITH evalset AS (
        SELECT DISTINCT
               md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS pfx8
        FROM documents WHERE doc_id % 97 = 0
    ),
    b0 AS ({prep} FROM ({_d187_sql_batch(0)})),
    b1 AS ({prep} FROM ({_d187_sql_batch(1)})),
    b2 AS ({prep} FROM ({_d187_sql_batch(2)})),
    idx_empty AS (SELECT CAST(NULL AS VARCHAR) AS h WHERE 1 = 0),
    f0 AS ({_d187_sql_flags("b0", "idx_empty")}),
    idx0 AS (SELECT DISTINCT h FROM f0 WHERE status = 'accepted'),
    f1 AS ({_d187_sql_flags("b1", "idx0")}),
    idx1 AS (SELECT h FROM idx0 UNION
             SELECT DISTINCT h FROM f1 WHERE status = 'accepted'),
    f2 AS ({_d187_sql_flags("b2", "idx1")}),
    allstat AS (SELECT * FROM f0 UNION ALL SELECT * FROM f1
                UNION ALL SELECT * FROM f2),
    allacc AS (SELECT * FROM allstat WHERE status = 'accepted'),
    pref AS (
        SELECT round_id, lang, doc_id, toks,
               sum(toks) OVER (PARTITION BY lang ORDER BY round_id, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - toks AS gstart
        FROM allacc
    ),
    bins AS (
        SELECT round_id, lang,
               CAST(min(CAST(floor(gstart / {_D183_SHARD_TOKENS}.0) AS BIGINT)) AS BIGINT) AS bin_first,
               CAST(max(CAST(floor(gstart / {_D183_SHARD_TOKENS}.0) AS BIGINT)) AS BIGINT) AS bin_last,
               CAST(sum(toks) AS BIGINT) AS tokens_packed
        FROM pref GROUP BY round_id, lang
    ),
    counts AS (
        SELECT round_id, lang,
               CAST(count(*) AS BIGINT) AS n_arrived,
               CAST(sum(CASE WHEN status = 'quality_fail' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_fail,
               CAST(sum(CASE WHEN status = 'dup_index' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_index,
               CAST(sum(CASE WHEN status = 'dup_batch' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_batch,
               CAST(sum(CASE WHEN status = 'contaminated' THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
               CAST(sum(CASE WHEN status = 'accepted' THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted
        FROM allstat GROUP BY round_id, lang
    ),
    dg AS ({dg})
    SELECT c.round_id, c.lang, c.n_arrived, c.n_quality_fail, c.n_dup_index,
           c.n_dup_batch, c.n_contaminated, c.n_accepted,
           coalesce(b.tokens_packed, 0) AS tokens_packed,
           CAST(sum(coalesce(b.tokens_packed, 0)) OVER (
               PARTITION BY c.lang ORDER BY c.round_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cursor_after,
           b.bin_first, b.bin_last, d.accepted_md5
    FROM counts c
    LEFT JOIN bins b ON b.round_id = c.round_id AND b.lang = c.lang
    LEFT JOIN dg d ON d.round_id = c.round_id AND d.lang = c.lang
    ORDER BY c.round_id, c.lang
    """


def _d187_batch(d: DataFrame, r: int) -> DataFrame:
    """Spark twin of :func:`_d187_sql_batch` (d = documents)."""
    def shifted(flt, offset: int, suffix: str | None) -> DataFrame:
        text = F.concat(F.col("text"), F.lit(suffix)) if suffix else F.col("text")
        return d.filter(flt).select(
            F.lit(r).alias("round_id"),
            (F.col("doc_id") + offset).alias("doc_id"),
            text.alias("text"),
            "lang",
        )

    did = F.col("doc_id")
    if r == 0:
        return d.select(
            F.lit(0).alias("round_id"), "doc_id", "text", "lang"
        )
    if r == 1:
        return (
            shifted(did % 5 == 0, 2_000_000, " nova")
            .unionByName(shifted(did % 7 == 0, 3_000_000, None))
            .unionByName(
                shifted((did % 5 == 0) & (did % 13 == 0), 6_000_000, " nova")
            )
        )
    return shifted((did % 5 == 0) & (did % 3 == 0), 4_000_000, " nova").unionByName(
        shifted(did % 11 == 0, 5_000_000, " novb")
    )


def _d187_flags(batch: DataFrame, idx: DataFrame, eval_pfx: DataFrame) -> DataFrame:
    """Spark twin of :func:`_d187_sql_flags`: classify one arrival batch
    against the persisted accepted-hash index — quality first (pure),
    then index dup (one h-keyed join), then within-batch keep-first
    (one h-keyed window), then contamination (prefix join)."""
    toks = F.split("text", " ")
    b = batch.select(
        "round_id",
        "doc_id",
        "lang",
        F.size(toks).alias("toks"),
        F.md5("text").alias("h"),
        (
            (F.size(toks) >= _D183_QUALITY_MIN_TOKS)
            & (
                F.size(F.array_distinct(toks)) * 1000
                >= F.size(toks) * _D183_QUALITY_UNIQ_PERMILLE
            )
        ).alias("q"),
        F.md5(F.array_join(F.slice(toks, 1, 8), " ")).alias("pfx8"),
    )
    b = (
        b.join(eval_pfx.withColumn("_ct", F.lit(True)), "pfx8", "left")
        .join(idx.withColumn("_di", F.lit(True)), "h", "left")
        .withColumn("di", F.coalesce(F.col("_di"), F.lit(False)))
        .withColumn("ct", F.coalesce(F.col("_ct"), F.lit(False)))
    )
    rn = F.row_number().over(
        Window.partitionBy("h").orderBy(
            F.col("q").cast("int").desc(), F.col("di").asc(), F.col("doc_id").asc()
        )
    )
    return b.withColumn("rn", rn).select(
        "round_id",
        "doc_id",
        "lang",
        "toks",
        "h",
        F.when(~F.col("q"), "quality_fail")
        .when(F.col("di"), "dup_index")
        .when(F.col("rn") > 1, "dup_batch")
        .when(F.col("ct"), "contaminated")
        .otherwise("accepted")
        .alias("status"),
    )


@query(
    "d187_curation_arrival_loop",
    tags=("D187", "D183", "D181", "D65", "D79", "D80"),
    oracle=_d187_oracle(),
)
def d187_curation_arrival_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The D183 curation chain at day 2 — continuous ingestion into a
    packed training corpus with PERSISTED decisions (the d181 loop
    discipline applied to the whole DAG): a bootstrap round curates
    ``documents`` from an empty index; each later arrival batch is
    classified quality → dup-vs-index → within-batch keep-first →
    decontaminate against the SAME rules, accepted docs extend the
    on-disk accepted-hash index, and packing CONTINUES each language's
    shard cursor — earlier rounds' shard placement is frozen, arrivals
    only ever append (bin_first of round r >= bin_last of round r-1 per
    lang; the ledger's cumulative cursor makes it visible).

    Greedy-online semantics (deliberate, the d181 contrast with d74's
    global closure): round-2 arrivals include exact copies of texts
    FIRST ACCEPTED in round 1 ('nova' suffixed) — they drop as
    dup_index only if the round-1 acceptances actually reached the
    persisted index, so the hash proves cross-round state growth.
    Rejected texts (quality/contam) are NOT indexed: a re-arrival of a
    rejected text is re-screened and re-rejected by the same pure
    rules — deterministic without remembering rejections (at 100 TB
    the index carries only what the corpus carries).

    Per-round work: O(batch) hashing/flagging + ONE h-keyed equi-join
    against the persisted index (never all-pairs, never a corpus
    rescan) + one h-keyed window within the batch; the index update is
    a generational APPEND of the round's O(batch) distinct accepted
    hashes (the d181 shape — r15: the r14 merge re-wrote the distinct
    union of the whole index every round; probes read the union of
    disjoint generations instead, which is the same row set). The
    declared 15-row ledger (round x lang: arrival accounting, packed
    tokens, cursor, bin span, accepted-membership digest) is computed
    entirely FROM the persisted status/index state; the global packing
    offsets ride the GROUPED distributed prefix (d186's operator —
    no per-language reducer chain even in the final fold)."""
    ls = LoopState(spark, "curation_loop")

    d = fan_out(_docs(spark, sf_dir).select("doc_id", "text", "lang"))
    eval_pfx = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 97 == 0)
        .select(
            F.md5(F.array_join(F.slice(F.split("text", " "), 1, 8), " ")).alias(
                "pfx8"
            )
        )
        .distinct()
    )

    for r in (0, 1, 2):
        # the index is the union of accepted-hash generations 0..r-1.
        # Generations are DISJOINT by construction — an h already in
        # the index flags the arrival dup_index, never accepted — so the
        # union IS the distinct-merged index of the r14 shape, row for
        # row. Generational append (r15, the d181 move): write ONLY the
        # round's distinct accepted hashes — the r14 shape re-read,
        # re-unioned and re-DISTINCTed the whole index every round
        # (O(index) shuffle+write per arrival); per-arrival index I/O
        # is now O(batch)
        index = ls.upto("index", r - 1, "h string")
        flags = _d187_flags(_d187_batch(d, r), index, eval_pfx)
        status_r = ls.put(flags, "status", r)
        ls.put(
            status_r.filter(F.col("status") == "accepted").select("h").distinct(),
            "index",
            r,
        )

    status = ls.all("status").select(
        "round_id",
        "lang",
        "doc_id",
        "toks",
        "h",
        "status",
    )
    acc = status.filter(F.col("status") == "accepted")
    # global packing offsets: grouped distributed prefix (d186) — the
    # per-lang cursor with no per-language serial reducer chain
    pre = ordered_prefix(
        acc.select("round_id", "lang", "doc_id", "toks", "h"),
        ["round_id", "doc_id"],
        group_cols=["lang"],
        running={"cum": "toks"},
    )
    bins = (
        pre.withColumn(
            "bin",
            F.floor((F.col("cum") - F.col("toks")) / float(_D183_SHARD_TOKENS)),
        )
        .groupBy("round_id", "lang")
        .agg(
            F.min("bin").alias("bin_first"),
            F.max("bin").alias("bin_last"),
            F.sum("toks").alias("tokens_packed"),
        )
    )
    counts = status.groupBy("round_id", "lang").agg(
        F.count(F.lit(1)).alias("n_arrived"),
        *[
            F.sum((F.col("status") == s).cast("int")).cast("long").alias(a)
            for s, a in (
                ("quality_fail", "n_quality_fail"),
                ("dup_index", "n_dup_index"),
                ("dup_batch", "n_dup_batch"),
                ("contaminated", "n_contaminated"),
                ("accepted", "n_accepted"),
            )
        ],
    )
    dg = two_level_digest(
        acc,
        ["round_id", "lang"],
        F.concat_ws("|", F.col("doc_id"), F.col("h")),
        count_alias="_n_dg",
        digest_alias="accepted_md5",
    ).select("round_id", "lang", "accepted_md5")
    w_cur = Window.partitionBy("lang").orderBy("round_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        counts.join(bins, ["round_id", "lang"], "left")
        .join(dg, ["round_id", "lang"], "left")
        .withColumn("tokens_packed", F.coalesce(F.col("tokens_packed"), F.lit(0)))
        .withColumn("cursor_after", F.sum("tokens_packed").over(w_cur))
        .select(
            "round_id",
            "lang",
            "n_arrived",
            "n_quality_fail",
            "n_dup_index",
            "n_dup_batch",
            "n_contaminated",
            "n_accepted",
            "tokens_packed",
            "cursor_after",
            "bin_first",
            "bin_last",
            "accepted_md5",
        )
        .orderBy("round_id", "lang")
    )


# ---------------------------------------------------------------------------
# D189: deterministic epoch shuffle (global training order without a sort)
# ---------------------------------------------------------------------------

_D189_SHARDS = 8
_D189_EPOCH_SALT = "epoch1|"


@query(
    "d189_training_shuffle",
    tags=("D189", "D78", "D40"),
    oracle=sql_two_level_digest(
        f"""(
        WITH ranked AS (
            SELECT doc_id,
                   {sql_hash_long("doc_id", _D189_EPOCH_SALT)} AS rk
            FROM documents
        ),
        pos AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY rk, doc_id) AS pos,
                   count(*) OVER () AS n
            FROM ranked
        )
        SELECT CAST(floor((pos - 1) * {_D189_SHARDS} * 1.0 / n) AS BIGINT)
                   AS shard,
               pos, doc_id
        FROM pos)""",
        ["shard"],
        "pos || '|' || doc_id",
        count_alias="n_docs",
        digest_alias="order_digest",
        sum_exprs={"pos_sum": "pos"},
    ),
)
def d189_training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: the training-order primitive — each
    epoch permutes the corpus by a salted portable hash, splits the
    permuted order into equi-count shards, and pins per-shard
    membership AND position with the two-level digest (a trainer
    streaming shard k resumes mid-epoch from (shard, pos)).

    Scale shape: the global permutation position rides the distributed
    prefix operator (range-partition on the hash rank, per-bucket row
    numbers + bounded offset window) — NEVER a single-reducer
    ``row_number() OVER (ORDER BY ...)``, which is exactly the hazard
    operators/prefix.py exists for; the oracle keeps the naive window
    SQL, so value-identity of the two formulations is what the hash
    checks. Shard assignment is a pure function of (pos, n) — no
    second shuffle — and the ledger folds with the two-level digest
    (no corpus-scale aggregation buffer). ``pos_sum`` cross-checks
    contiguity: shard boundaries are consecutive integers, so a
    dropped or doubled position desyncs the sum even if counts match.

    Epoch 2 is the same query with a different salt — the permutation
    changes, the machinery doesn't (salt pinned as a module constant
    so the oracle agrees)."""
    d = _docs(spark, sf_dir).select("doc_id")
    ranked = d.withColumn(
        "rk", portable_hash_long("doc_id", _D189_EPOCH_SALT)
    )
    pref = ordered_prefix(
        ranked, ["rk", "doc_id"], row_number="pos", count_total="n"
    )
    sharded = pref.select(
        F.floor((F.col("pos") - 1) * _D189_SHARDS / F.col("n")).alias("shard"),
        "pos",
        "doc_id",
    )
    return two_level_digest(
        sharded,
        ["shard"],
        F.concat_ws("|", "pos", "doc_id"),
        count_alias="n_docs",
        digest_alias="order_digest",
        sum_cols={"pos_sum": "pos"},
    )


# ---------------------------------------------------------------------------
# D191: point-in-time feature backfill (leakage-free training features)
# ---------------------------------------------------------------------------

_D191_HORIZON_S = 7 * 86400  # staleness horizon: 7 days


@query(
    "d191_point_in_time_features",
    tags=("D191", "D21", "D35"),
    oracle=f"""
    WITH snaps AS (
        SELECT user_id, ts, event_id,
               count(*) OVER w AS n_hist,
               sum(value) OVER w AS val_hist
        FROM events
        WHERE event_type <> 'purchase'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    probes AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase'
    ),
    backfill AS (
        SELECT p.event_id, p.user_id, p.ts,
               s.ts AS snap_ts, s.n_hist, s.val_hist,
               row_number() OVER (
                   PARTITION BY p.event_id
                   ORDER BY s.ts DESC, s.event_id DESC
               ) AS rn
        FROM probes p
        JOIN snaps s ON s.user_id = p.user_id AND s.ts <= p.ts
    ),
    feat AS (
        SELECT p.event_id, p.user_id,
               a.snap_ts, a.n_hist, a.val_hist,
               (a.snap_ts IS NOT NULL) AS matched,
               (a.snap_ts IS NOT NULL AND
                epoch(p.ts) - epoch(a.snap_ts) <= {_D191_HORIZON_S}) AS fresh
        FROM probes p
        LEFT JOIN (SELECT * FROM backfill WHERE rn = 1) a
               ON a.event_id = p.event_id
    )
    SELECT user_id % 8 AS user_bucket,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CAST(matched AS INT)) AS BIGINT) AS n_matched,
           CAST(sum(CAST(fresh AS INT)) AS BIGINT) AS n_fresh,
           CAST(sum(CASE WHEN fresh THEN n_hist END) AS BIGINT) AS hist_events,
           {sql_round("sum(CASE WHEN fresh THEN val_hist END)", 2)} AS hist_value
    FROM feat
    GROUP BY 1 ORDER BY 1
    """,
)
def d191_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature backfill — the leakage-free training join
    every feature store exists for: each purchase (prediction point)
    gets the user's activity features AS OF its timestamp, never after
    (temporal leakage), and a feature older than the 7-day staleness
    horizon is masked to missing rather than silently served (training
    must see what ONLINE inference would see).

    Construction: snapshots = running activity history per user (one
    high-cardinality keyed window — user_id partitions scale out);
    backfill = the union+window as-of operator (operators/asof.py):
    ONE linear shuffle of |snapshots|+|probes| rows, never the
    |probes| x |history| range-join blowup. Freshness is a pure
    projection; the declared output folds per user-bucket with counts
    + fresh-feature sums so coverage (n_fresh/n_probes) — the number a
    feature-store SLA tracks — is literal-pinned in the hash.

    The oracle keeps the portable row_number formulation (the D21
    discipline), so value-identity of the as-of operator vs the naive
    formulation is part of the check."""
    from ..operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    snaps = (
        e.filter(F.col("event_type") != "purchase")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("n_hist", F.count(F.lit(1)).over(w))
        .withColumn("val_hist", F.sum("value").over(w))
        .select(
            "user_id", "event_id",
            F.col("ts").alias("snap_ts"), "n_hist", "val_hist",
        )
    )
    probes = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    bf = asof_join(
        probes,
        snaps,
        on="user_id",
        time_probe="ts",
        time_quote="snap_ts",
        attach={"snap_ts": "snap_ts", "n_hist": "n_hist", "val_hist": "val_hist"},
        tiebreak_quote="event_id",
    )
    matched = F.col("snap_ts").isNotNull()
    fresh = matched & (
        (F.unix_timestamp("ts") - F.unix_timestamp("snap_ts")) <= _D191_HORIZON_S
    )
    return (
        bf.select(
            (F.col("user_id") % 8).alias("user_bucket"),
            matched.cast("int").alias("m"),
            fresh.cast("int").alias("f"),
            F.when(fresh, F.col("n_hist")).alias("nh"),
            F.when(fresh, F.col("val_hist")).alias("vh"),
        )
        .groupBy("user_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            F.sum("m").cast("long").alias("n_matched"),
            F.sum("f").cast("long").alias("n_fresh"),
            F.sum("nh").cast("long").alias("hist_events"),
            pround(F.sum("vh"), 2).alias("hist_value"),
        )
        .orderBy("user_bucket")
    )


# ---------------------------------------------------------------------------
# D196: context-window transcript truncation (keep-last-B-tokens)
# ---------------------------------------------------------------------------

_CTX_BUDGET = 256  # token budget per user transcript


@query(
    "d196_context_truncation",
    tags=("D196", "D35", "D80"),
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, ts,
               CAST(json_extract_string(props, '$.k') AS BIGINT) + 1 AS toks
        FROM events
    ),
    c AS (
        SELECT user_id, event_id, ts, toks,
               sum(toks) OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM e
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN cum <= {_CTX_BUDGET} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN cum <= {_CTX_BUDGET} THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens,
           CAST(sum(CASE WHEN cum <= {_CTX_BUDGET} THEN 0 ELSE toks END) AS BIGINT) AS dropped_tokens,
           strftime(min(CASE WHEN cum <= {_CTX_BUDGET} THEN ts END), '%Y-%m-%d %H:%M:%S') AS oldest_kept_ts,
           CAST(sum(CASE WHEN cum <= {_CTX_BUDGET}
                    THEN {sql_hash_long('event_id', 'ctx|')} ELSE 0 END) AS BIGINT) AS kept_digest
    FROM c GROUP BY user_id ORDER BY user_id
    """,
)
def d196_context_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window transcript assembly: for each user, keep the
    maximal SUFFIX of whole messages (newest first) whose token total
    fits a fixed budget — the truncation every chat/agent inference
    pipeline applies before a model call, at corpus scale for building
    conversation training samples. Token cost per message is read from
    the event payload (deterministic ``props.k + 1``); a message is kept
    iff the running newest-first token sum through it stays <= budget
    (whole-message granularity — no mid-message splits).

    The ``kept_digest`` column sums the portable hash of every kept
    event_id, so the hash check pins exact MEMBERSHIP of the kept set,
    not just its size (the d58/d182 invariant-pin discipline).

    Scale shape: ONE window partitioned by user_id — a high-cardinality
    key that scales out with the corpus (each user's transcript is
    bounded by session length, never by corpus size), unlike the
    per-lang chains d186 exists to break. JSON extraction and the
    budget CASEs are codegen'd JVM expressions; the rollup reuses the
    window's partitioning (user_id), so the plan carries ONE data
    shuffle plus the presentation sort."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        (F.get_json_object("props", "$.k").cast("long") + 1).alias("toks"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = e.withColumn("cum", F.sum("toks").over(w))
    kept = F.col("cum") <= _CTX_BUDGET
    return (
        c.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.col("toks")).otherwise(0)).cast("long").alias("kept_tokens"),
            F.sum(F.when(kept, 0).otherwise(F.col("toks"))).cast("long").alias("dropped_tokens"),
            F.date_format(F.min(F.when(kept, F.col("ts"))), "yyyy-MM-dd HH:mm:ss").alias(
                "oldest_kept_ts"
            ),
            F.sum(
                F.when(kept, portable_hash_long("event_id", "ctx|")).otherwise(0)
            ).cast("long").alias("kept_digest"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# D197: preference-pair construction (DPO/RLHF data prep)
# ---------------------------------------------------------------------------

_PREF_MARGIN = 500  # minimum integer score gap for a usable pair


@query(
    "d197_preference_pairs",
    tags=("D197", "D37", "D78"),
    oracle=f"""
    WITH cand AS (
        SELECT doc_id // 4 AS prompt_id, doc_id,
               1000 * len(list_distinct(string_split(text, ' ')))
                 + len(string_split(text, ' ')) AS score
        FROM documents
    ),
    r AS (
        SELECT prompt_id, doc_id, score,
               row_number() OVER (PARTITION BY prompt_id
                                  ORDER BY score DESC, doc_id ASC) AS r_best,
               row_number() OVER (PARTITION BY prompt_id
                                  ORDER BY score ASC, doc_id ASC) AS r_worst,
               count(*) OVER (PARTITION BY prompt_id) AS n_candidates
        FROM cand
    ),
    p AS (
        SELECT prompt_id,
               CAST(max(n_candidates) AS BIGINT) AS n_candidates,
               max(CASE WHEN r_best = 1 THEN doc_id END) AS chosen_id,
               max(CASE WHEN r_best = 1 THEN score END) AS chosen_score,
               max(CASE WHEN r_worst = 1 THEN doc_id END) AS rejected_id,
               max(CASE WHEN r_worst = 1 THEN score END) AS rejected_score
        FROM r GROUP BY prompt_id
    )
    SELECT prompt_id, n_candidates, chosen_id, rejected_id,
           CAST(chosen_score AS BIGINT) AS chosen_score,
           CAST(rejected_score AS BIGINT) AS rejected_score,
           CAST(chosen_score - rejected_score AS BIGINT) AS margin
    FROM p
    WHERE n_candidates >= 2 AND chosen_id <> rejected_id
      AND chosen_score - rejected_score >= {_PREF_MARGIN}
    ORDER BY prompt_id
    """,
)
def d197_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction — the DPO/RLHF data-prep primitive:
    group candidate responses by prompt, pick the best and worst by a
    deterministic integer quality score (1000·distinct-tokens + tokens,
    float-free so no engine boundary can split the ranking), tie-broken
    by doc_id, and emit (chosen, rejected) only where the score margin
    clears a threshold — low-margin pairs teach a preference model
    nothing and are dropped at the source.

    Candidate grouping here is ``doc_id // 4`` (fixed fan-in, so prompt
    count scales WITH the corpus — the high-cardinality grouping real
    response logs have). Both rankings and the fan-in count ride windows
    over the SAME prompt partition, so Spark plans ONE exchange (two
    sorts share it) and the final rollup reuses the partitioning; no
    joins, no Python. Margin and fan-in gates apply post-rollup, exactly
    as in the SQL oracle."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    cand = d.select(
        (F.col("doc_id") / 4).cast("long").alias("prompt_id"),
        "doc_id",
        (1000 * F.size(F.array_distinct(toks)) + F.size(toks)).cast("long").alias("score"),
    )
    by_prompt = Window.partitionBy("prompt_id")
    r = cand.select(
        "prompt_id",
        "doc_id",
        "score",
        F.row_number()
        .over(by_prompt.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
        .alias("r_best"),
        F.row_number()
        .over(by_prompt.orderBy(F.col("score").asc(), F.col("doc_id").asc()))
        .alias("r_worst"),
        F.count(F.lit(1)).over(by_prompt).alias("n_candidates"),
    )
    p = r.groupBy("prompt_id").agg(
        F.max("n_candidates").cast("long").alias("n_candidates"),
        F.max(F.when(F.col("r_best") == 1, F.col("doc_id"))).alias("chosen_id"),
        F.max(F.when(F.col("r_best") == 1, F.col("score"))).alias("chosen_score"),
        F.max(F.when(F.col("r_worst") == 1, F.col("doc_id"))).alias("rejected_id"),
        F.max(F.when(F.col("r_worst") == 1, F.col("score"))).alias("rejected_score"),
    )
    return (
        p.filter(
            (F.col("n_candidates") >= 2)
            & (F.col("chosen_id") != F.col("rejected_id"))
            & (F.col("chosen_score") - F.col("rejected_score") >= _PREF_MARGIN)
        )
        .select(
            "prompt_id",
            "n_candidates",
            "chosen_id",
            "rejected_id",
            F.col("chosen_score").cast("long").alias("chosen_score"),
            F.col("rejected_score").cast("long").alias("rejected_score"),
            (F.col("chosen_score") - F.col("rejected_score")).cast("long").alias("margin"),
        )
        .orderBy("prompt_id")
    )


# ---------------------------------------------------------------------------
# D199: curriculum schedule construction (easy-to-hard bucket ledger)
# ---------------------------------------------------------------------------

_CURR_BUCKETS = 8


@query(
    "d199_curriculum_schedule",
    tags=("D199", "D189", "D133"),
    oracle=f"""
    WITH r AS (
        SELECT doc_id, lang, n_chars,
               len(string_split(text, ' ')) AS toks,
               row_number() OVER (ORDER BY n_chars, doc_id) AS pos,
               count(*) OVER () AS n
        FROM documents
    )
    SELECT CAST((pos - 1) * {_CURR_BUCKETS} // n AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_difficulty,
           CAST(max(n_chars) AS BIGINT) AS max_difficulty,
           {sql_round('CAST(sum(toks) AS DOUBLE) / count(*)', 4)} AS avg_tokens,
           CAST(sum({sql_hash_long('doc_id', 'curr|')}) AS BIGINT) AS member_digest
    FROM r
    GROUP BY (pos - 1) * {_CURR_BUCKETS} // n
    ORDER BY bucket
    """,
)
def d199_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule construction — order the corpus easy→hard by
    a deterministic difficulty key (n_chars, doc_id tie-break), cut it
    into equal-size stage buckets, and ledger each stage: size,
    difficulty range, mean token length, and a membership digest that
    pins EXACTLY which documents train in which stage (a curriculum is
    an ordering contract — "roughly these docs" is not reproducible).

    Scale shape: the global position rides the distributed prefix
    operator (range-partition on (n_chars, doc_id), per-bucket row
    numbers, bounded offset window) — NEVER a single-reducer
    ``row_number() OVER (ORDER BY ...)`` (the d189 discipline; the
    oracle keeps exactly that naive window SQL, so value identity of
    the two formulations is the checked property). Bucket assignment is
    pure integer arithmetic on (pos, n) — engine-splittable boundaries
    impossible — and the stage ledger is one keyed aggregation."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.size(F.split("text", " ")).alias("toks")
    )
    r = ordered_prefix(
        d, ["n_chars", "doc_id"], row_number="pos", count_total="n"
    )
    bucket = ((F.col("pos") - 1) * _CURR_BUCKETS / F.col("n")).cast("long")
    return (
        r.select("doc_id", "n_chars", "toks", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_difficulty"),
            F.max("n_chars").cast("long").alias("max_difficulty"),
            pround(F.sum("toks") * 1.0 / F.count(F.lit(1)), 4).alias("avg_tokens"),
            F.sum(portable_hash_long("doc_id", "curr|")).cast("long").alias(
                "member_digest"
            ),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# D204: curation config A/B diff (threshold-change impact analysis)
# ---------------------------------------------------------------------------

# config A = production (d183's integer-threshold class); config B =
# candidate: stricter on length, looser on lexical diversity — so BOTH
# flip directions (keep_drop AND drop_keep) are populated.
_D204_A_MINLEN, _D204_A_UNIQ = 12, 380
_D204_B_MINLEN, _D204_B_UNIQ = 20, 300


@query(
    "d204_curation_config_diff",
    tags=("D204", "D183", "D76"),
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS ntoks,
               len(list_distinct(string_split(text, ' '))) AS uniq
        FROM documents
    ),
    c AS (
        SELECT lang, ntoks,
               CASE WHEN ntoks >= {_D204_A_MINLEN}
                     AND uniq * 1000 >= ntoks * {_D204_A_UNIQ}
                    THEN 'keep' ELSE 'drop' END ||
               '_' ||
               CASE WHEN ntoks >= {_D204_B_MINLEN}
                     AND uniq * 1000 >= ntoks * {_D204_B_UNIQ}
                    THEN 'keep' ELSE 'drop' END AS transition,
               {sql_hash_long('doc_id', 'cfg|')} AS dh
        FROM t
    )
    SELECT lang, transition,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntoks) AS BIGINT) AS tokens,
           CAST(sum(dh) AS BIGINT) AS member_digest
    FROM c GROUP BY lang, transition ORDER BY lang, transition
    """,
)
def d204_curation_config_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation config A/B diff — the impact analysis a team runs BEFORE
    re-curating 100 TB under changed thresholds: evaluate the production
    config (A) and the candidate (B) on every document in ONE pass, and
    ledger the keep/drop TRANSITION MATRIX per language (keep_drop =
    corpus lost by the change, drop_keep = corpus the change admits),
    with token mass and a membership digest per cell so the flip sets
    are pinned exactly, not just counted (the d194/d202 migration-audit
    class, applied to the d183 rule family).

    Scale shape: both configs are integer-threshold column expressions
    over one tokenization (no float boundary can split engines, the
    d183 rule); the whole audit is a single codegen'd projection plus
    one (lang, transition)-keyed rollup — the second curation run this
    audit replaces is the expensive thing, not the audit."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    t = d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("ntoks"),
        F.size(F.array_distinct(toks)).alias("uniq"),
    )
    keep_a = (F.col("ntoks") >= _D204_A_MINLEN) & (
        F.col("uniq") * 1000 >= F.col("ntoks") * _D204_A_UNIQ
    )
    keep_b = (F.col("ntoks") >= _D204_B_MINLEN) & (
        F.col("uniq") * 1000 >= F.col("ntoks") * _D204_B_UNIQ
    )
    trans = F.concat(
        F.when(keep_a, "keep").otherwise("drop"),
        F.lit("_"),
        F.when(keep_b, "keep").otherwise("drop"),
    )
    return (
        t.select(
            "lang",
            "ntoks",
            trans.alias("transition"),
            portable_hash_long("doc_id", "cfg|").alias("dh"),
        )
        .groupBy("lang", "transition")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntoks").cast("long").alias("tokens"),
            F.sum("dh").cast("long").alias("member_digest"),
        )
        .orderBy("lang", "transition")
    )


# ---------------------------------------------------------------------------
# D206: sequence-length bucketing pad-waste audit
# ---------------------------------------------------------------------------

_D206_BATCH = 8  # sequences per training micro-batch


def _d206_oracle() -> str:
    def chain(tag: str, order: str) -> str:
        return f"""
        SELECT '{tag}' AS ordering,
               CAST(count(*) AS BIGINT) AS n_batches,
               CAST(sum(n) AS BIGINT) AS n_docs,
               CAST(sum(tok) AS BIGINT) AS token_sum,
               CAST(sum(n * mx - tok) AS BIGINT) AS pad_tokens,
               {sql_round('sum(n * mx - tok) * 1.0 / sum(n * mx)', 4)} AS pad_pct
        FROM (
            SELECT (pos - 1) // {_D206_BATCH} AS batch_id,
                   count(*) AS n, max(len) AS mx, sum(len) AS tok
            FROM (
                SELECT len,
                       row_number() OVER (ORDER BY {order}) AS pos
                FROM t
            ) GROUP BY batch_id
        )"""

    return f"""
    WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS len FROM documents
    )
    SELECT * FROM ({chain('arrival', 'doc_id')}
                   UNION ALL
                   {chain('bucketed', 'len, doc_id')})
    ORDER BY ordering
    """


@query("d206_padding_waste", tags=("D206", "D80", "D189", "D199"),
       oracle=_d206_oracle())
def d206_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing pad-waste audit — the training-batch
    efficiency number: micro-batches of B sequences pad every member to
    the batch max, so batching in ARRIVAL order burns compute on pad
    tokens that LENGTH-BUCKETED order (sort by length, then batch)
    mostly eliminates. The ledger prices both orderings on the same
    corpus — total pad tokens and pad fraction of the compute — which
    is the measured justification for a d199-style ordered layout
    (the d190 quantified-WHY audit class).

    Scale shape: each ordering's global position rides the distributed
    prefix (range-partition + bounded offset window, the d189/d199
    discipline — never a single-reducer global row_number; the oracle
    keeps exactly that naive window SQL, so value identity is the
    checked property twice, under two different sort keys); per-batch
    stats are one keyed aggregation each, and the final ledger is two
    1-row folds."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("len")
    )

    def chain(tag: str, order_cols: list[str]) -> DataFrame:
        r = ordered_prefix(t, order_cols, row_number="pos")
        b = (
            r.select(
                ((F.col("pos") - 1) / _D206_BATCH).cast("long").alias("batch_id"),
                "len",
            )
            .groupBy("batch_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max("len").alias("mx"),
                F.sum("len").alias("tok"),
            )
        )
        pad = F.sum(F.col("n") * F.col("mx") - F.col("tok"))
        return b.agg(
            F.lit(tag).alias("ordering"),
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("n").cast("long").alias("n_docs"),
            F.sum("tok").cast("long").alias("token_sum"),
            pad.cast("long").alias("pad_tokens"),
            pround(pad * 1.0 / F.sum(F.col("n") * F.col("mx")), 4).alias("pad_pct"),
        )

    return (
        chain("arrival", ["doc_id"])
        .unionByName(chain("bucketed", ["len", "doc_id"]))
        .orderBy("ordering")
    )


# ---------------------------------------------------------------------------
# D208: per-user contribution bounding (user-level data budget)
# ---------------------------------------------------------------------------

_D208_CAP = 40  # max events any single user may contribute


@query(
    "d208_contribution_bounding",
    tags=("D208", "D37", "D122"),
    oracle=f"""
    WITH r AS (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN rn <= {_D208_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN rn <= {_D208_CAP} THEN 0 ELSE 1 END) AS BIGINT)
               AS n_capped,
           {sql_round(f'sum(CASE WHEN rn <= {_D208_CAP} THEN value ELSE 0 END)', 2)}
               AS kept_value,
           {sql_round(
               f'sum(CASE WHEN rn <= {_D208_CAP} THEN 1.0 ELSE 0 END) / count(*)', 4)}
               AS keep_rate
    FROM r GROUP BY event_type ORDER BY event_type
    """,
)
def d208_contribution_bounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user contribution bounding — the user-level data budget every
    privacy-aware training pipeline applies before user data enters a
    corpus (DP-SGD's per-example clipping has a data-side twin: cap how
    many examples any single user contributes, or one prolific user
    dominates both the gradient signal and the privacy accounting).
    Keep each user's _D208_CAP most recent events (recency rank,
    event_id tie-break) and ledger per event type what the cap removes.

    Scale shape: ONE window on the high-cardinality user key (the d196
    partition-key class — no serial chains), the rollup groups by event
    type. Deterministic rank, integer cap, value sums under the
    portable round."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = e.select(
        "event_type", "value", F.row_number().over(w).alias("rn")
    )
    kept = F.col("rn") <= _D208_CAP
    return (
        r.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(kept, 0).otherwise(1)).cast("long").alias("n_capped"),
            pround(F.sum(F.when(kept, F.col("value")).otherwise(0.0)), 2).alias(
                "kept_value"
            ),
            pround(
                F.sum(F.when(kept, F.lit(1.0)).otherwise(0.0)) / F.count(F.lit(1)), 4
            ).alias("keep_rate"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# D213: concat-and-chunk packing audit (document boundary crossings)
# ---------------------------------------------------------------------------

_D213_CTX = 256  # training sequence length (tokens)


@query(
    "d213_concat_chunk_packing",
    tags=("D213", "D80", "D206", "D189"),
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS len
        FROM documents
    ),
    r AS (
        SELECT doc_id, lang, len,
               sum(len) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS run
        FROM t
    ),
    s AS (
        SELECT lang, len,
               (run - len) // {_D213_CTX} AS seq_first,
               (run - 1) // {_D213_CTX} AS seq_last
        FROM r
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len) AS BIGINT) AS tokens,
           CAST(sum(CASE WHEN seq_first <> seq_last THEN 1 ELSE 0 END) AS BIGINT)
               AS n_crossing,
           {sql_round(
               "sum(CASE WHEN seq_first <> seq_last THEN 1.0 ELSE 0 END) / count(*)",
               4)} AS crossing_pct,
           CAST(max(seq_last) + 1 AS BIGINT) AS n_sequences_touched
    FROM s GROUP BY lang ORDER BY lang
    """,
)
def d213_concat_chunk_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing audit — the OTHER packing regime next to
    d80's whole-document bins: GPT-style pretraining concatenates the
    corpus into one token stream and cuts it every CTX tokens, so a
    document whose [start, end) offsets straddle a cut gets SPLIT
    across training sequences (cross-document attention / truncated
    context — the cost this regime pays for zero padding, exactly the
    waste d206 prices for the padded regime). Per language: how many
    documents cross a boundary and how many sequences the language's
    docs touch — the inputs to the pack-with-document-masking decision.

    Scale shape: the global running token offset rides the distributed
    prefix (range-partition on doc_id — never a single-reducer global
    window; the oracle keeps exactly that naive SQL); sequence ids are
    pure integer arithmetic on (offset, CTX); the ledger is one keyed
    rollup."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("len")
    )
    r = ordered_prefix(t, ["doc_id"], running={"run": "len"})
    s = r.select(
        "lang",
        "len",
        ((F.col("run") - F.col("len")) / _D213_CTX).cast("long").alias("seq_first"),
        ((F.col("run") - 1) / _D213_CTX).cast("long").alias("seq_last"),
    )
    crossing = F.col("seq_first") != F.col("seq_last")
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("len").cast("long").alias("tokens"),
            F.sum(F.when(crossing, 1).otherwise(0)).cast("long").alias("n_crossing"),
            pround(
                F.sum(F.when(crossing, F.lit(1.0)).otherwise(0.0)) / F.count(F.lit(1)),
                4,
            ).alias("crossing_pct"),
            (F.max("seq_last") + 1).cast("long").alias("n_sequences_touched"),
        )
        .orderBy("lang")
    )
