"""Source/sink operator rows (SURVEY §2.2 D2, D4, D6).

D1 (parquet scans) lives in relational.py; D3/D5 (JDBC scan/sink) have
no reachable database server in this container — their code path is the
R21 retry wrapper in charlotte_spark/streaming/snorby.py (`with_retry`,
unit-tested in tests/test_streaming.py) around `df.write.jdbc` /
`spark.read.jdbc`, declared here for the inventory but not registered
as driver queries (SURVEY marks D3 "env-dependent, not hash-gated").

Round-trip queries write under /tmp and re-read with explicit schemas —
never inferring (SURVEY §1.3) — then aggregate, so the oracle can check
the same aggregate straight off the parquet views.

Scale notes: CSV/JSON scans with explicit schemas split by
`maxPartitionBytes` exactly like parquet; the partitioned parquet sink
(D4) partitions by a low-cardinality derived column (year) so the
writer produces one directory per partition value — at 100 TB the
partition column choice (date, not id) keeps file counts sane, and
dynamic partition overwrite avoids full-table rewrites.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.digest import sql_two_level_digest, two_level_digest
from ..functions.portable import pround, sql_round
from ..operators.loopstate import scratch_dir
from ..registry import query

# Portable (doc_id, text)-binding payload for corpus round-trip digests:
# the md5 multiset binds each doc's content to its id, so a dropped row,
# a mutated text, or a doc_id/text permutation all change the digest.
_DOC_PAYLOAD_SQL = "md5(CAST(doc_id AS VARCHAR) || '|' || text)"


def _doc_payload() -> F.Column:
    return F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("text")))


@query(
    "d2_csv_json_scan",
    tags=("D2",),
    oracle=f"""
    SELECT n_regionkey,
           count(*) AS n,
           {sql_round("sum(n_nationkey)", 2)} AS sum_key,
           count(*) AS n_json
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def d2_csv_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip nation through CSV and JSON with explicit schemas and
    aggregate both; equality of n and n_json proves both formats
    preserved every row."""
    nation = load_table(spark, sf_dir, "nation")
    tmp = scratch_dir("sinks_nation")
    csv_dir, json_dir = f"{tmp}/csv", f"{tmp}/json"
    nation.write.mode("overwrite").option("header", "true").csv(csv_dir)
    nation.write.mode("overwrite").json(json_dir)
    schema = "n_nationkey bigint, n_name string, n_regionkey bigint, n_comment string"
    from_csv = spark.read.schema(schema).option("header", "true").csv(csv_dir)
    from_json = spark.read.schema(schema).json(json_dir)
    agg_csv = from_csv.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n"), pround(F.sum("n_nationkey"), 2).alias("sum_key")
    )
    agg_json = from_json.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n_json"))
    return agg_csv.join(agg_json, "n_regionkey").orderBy("n_regionkey")


@query(
    "d4_partitioned_parquet_sink",
    tags=("D4",),
    oracle=f"""
    SELECT year(o_orderdate) AS order_year,
           count(*) AS n,
           {sql_round("sum(o_totalprice)", 2)} AS total
    FROM orders GROUP BY 1 ORDER BY order_year
    """,
)
def d4_partitioned_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders partitioned by year, re-read, aggregate per
    partition — partition pruning applies to any year-filtered read."""
    orders = load_table(spark, sf_dir, "orders")
    out = scratch_dir("sinks_orders_by_year")
    (
        orders.withColumn("order_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("order_year")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy("order_year")
        .agg(F.count(F.lit(1)).alias("n"), pround(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("order_year")
    )


@query(
    "d99_orc_roundtrip",
    tags=("D99", "D2", "D4"),
    oracle=sql_two_level_digest(
        "documents",
        ["lang"],
        _DOC_PAYLOAD_SQL,
        count_alias="n",
        digest_alias="corpus_md5",
        sum_exprs={"total_chars": "n_chars"},
    ),
)
def d99_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format breadth: write the corpus as lang-partitioned ORC
    (Spark's second built-in columnar format — the interchange target
    for Hive-era warehouses), re-read it, and prove byte-exact content
    preservation with an order-independent (doc_id, text)-binding corpus
    digest. Same pushdown/pruning machinery as parquet: partition
    pruning on lang, predicate pushdown into the ORC reader.

    The digest is the shared TWO-LEVEL bucketed fold (VERDICT r08 #2,
    functions/digest.py): level 1 keys on (lang, payload-bucket) so no
    aggregation buffer ever holds a per-lang corpus of md5s on one
    reducer, level 2 folds <= B sorted sub-digests per lang."""
    docs = load_table(spark, sf_dir, "documents")
    out = scratch_dir("sinks_documents_orc")
    docs.write.mode("overwrite").partitionBy("lang").orc(out)
    back = spark.read.orc(out)
    return two_level_digest(
        back,
        ["lang"],
        _doc_payload(),
        count_alias="n",
        digest_alias="corpus_md5",
        sum_cols={"total_chars": "n_chars"},
    )


@query(
    "d101_shard_export",
    tags=("D101", "D4", "D78"),
    oracle=sql_two_level_digest(
        "(SELECT *, CAST('0x' || substring(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 8)"
        " AS BIGINT) % 8 AS shard FROM documents)",
        ["shard"],
        _DOC_PAYLOAD_SQL,
        count_alias="n_docs",
        digest_alias="shard_md5",
        sum_exprs={"total_chars": "n_chars"},
    ),
)
def d101_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export: split the corpus into 8 hash-addressed
    shards (stable under appends, like the D78 split), write them as a
    shard-partitioned dataset, and re-read to produce the manifest a
    training loader consumes — per-shard row count, byte volume, and a
    byte-exact content digest. The digest is computed from the files
    actually written (not the logical plan), so the check covers the
    full write→read path. At 100 TB the shard column bounds file counts
    (writers per shard × shards) and lets loaders address work without
    listing the whole dataset."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "shard",
        F.conv(F.substring(F.md5(F.concat(F.lit("shard|"), F.col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        % 8,
    )
    out = scratch_dir("sinks_shards")
    docs.write.mode("overwrite").partitionBy("shard").parquet(out)
    back = spark.read.parquet(out)
    return two_level_digest(
        back,
        ["shard"],
        _doc_payload(),
        count_alias="n_docs",
        digest_alias="shard_md5",
        sum_cols={"total_chars": "n_chars"},
    )


@query(
    "d6_file_stream_checkpoint",
    tags=("D6", "R1", "R2"),
    oracle="""
    SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def d6_file_stream_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over chunked events with a checkpoint; final
    sink equals the batch answer (the D6 contract)."""
    from ..streaming.harness import run_to_memory
    from .streaming_queries import _replay

    # exact COUNT(DISTINCT) isn't allowed in a streaming agg, so stream
    # the (event_type, user_id) partial counts (the scalable shape) and
    # finish exactly on the sink contents
    s = _replay(spark, sf_dir).filter(F.col("event_id") >= 0)
    partial = s.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    sink = run_to_memory(partial, "complete")
    return (
        sink.groupBy("event_type")
        .agg(F.sum("c").alias("n"), F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


_DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _derby_url(tag: str, sf_dir: str) -> str:
    import hashlib

    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return f"jdbc:derby:memory:{tag}_{sfx};create=true"


@query(
    "d3_jdbc_scan",
    tags=("D3", "R21"),
    oracle=f"""
    SELECT o_orderstatus AS status, count(*) AS n,
           {sql_round("sum(o_totalprice)", 2)} AS total
    FROM orders
    WHERE o_orderkey < 5000
    GROUP BY o_orderstatus
    ORDER BY status
    """,
)
def d3_jdbc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC scan against a REAL database (embedded Apache Derby — the
    DBMS Spark ships for its metastore): seed the table over JDBC, then
    read it back with a predicate-partitioned scan — four predicates →
    four parallel partitions, each executor opening its own connection,
    the D3 scale shape. The aggregate runs on the Spark side, so the
    oracle comparison checks the whole scan→compute path, including the
    dialect's type round-trip (DECIMAL/VARCHAR/TIMESTAMP)."""
    from ..sinks.jdbc import read_jdbc

    url = _derby_url("d3", sf_dir)
    src = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    src.select("o_orderkey", "o_orderstatus", "o_totalprice").write.jdbc(
        url, "orders_jdbc", mode="overwrite", properties=_DERBY
    )
    bounds = [0, 1250, 2500, 3750]
    # Spark creates the table with quoted (case-exact) identifiers, so
    # the pushed predicates must quote them too or Derby uppercases
    preds = [
        f'"o_orderkey" >= {lo} AND "o_orderkey" < {hi}'
        for lo, hi in zip(bounds, bounds[1:] + [5000])
    ]
    back = read_jdbc(spark, url, "orders_jdbc", properties=_DERBY, predicates=preds)
    return (
        back.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count(F.lit(1)).alias("n"), pround(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("status")
    )


@query(
    "d5_jdbc_sink",
    tags=("D5", "R21"),
    oracle=f"""
    SELECT o_orderpriority AS priority, count(*) AS n,
           {sql_round("sum(o_totalprice)", 2)} AS total
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
)
def d5_jdbc_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC append sink against embedded Derby with bounded connection
    fan-in (repartition(2) → two writer connections) and retry/backoff
    — R21's semantics over a real driver. The sink table is fresh per
    invocation; reading it back and re-aggregating proves the batched
    INSERT path round-trips every row."""
    import itertools

    from ..sinks.jdbc import write_jdbc_append

    if not hasattr(d5_jdbc_sink, "_counter"):
        d5_jdbc_sink._counter = itertools.count()
    url = _derby_url("d5", sf_dir)
    table = f"sink_{next(d5_jdbc_sink._counter)}_{os.getpid()}"
    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n"), pround(F.sum("o_totalprice"), 2).alias("total"))
    )
    write_jdbc_append(agg, url, table, properties=_DERBY, batchsize=1000, num_partitions=2)
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", _DERBY["driver"])
        .load()
        .select("priority", "n", "total")
        .orderBy("priority")
    )


@query(
    "d127_text_binary_roundtrip",
    tags=("D127", "D2", "D99", "D72"),
    oracle=f"""
    SELECT d.n_docs, d.corpus_md5, b.total_bytes
    FROM ({sql_two_level_digest("documents", [], "text",
                                count_alias="n_docs", digest_alias="corpus_md5")}) d
    CROSS JOIN (
        SELECT CAST(sum(n_chars) + count(*) AS BIGINT) AS total_bytes
        FROM documents
    ) b
    """,
)
def d127_text_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file source breadth: export the corpus through Spark's text
    sink (one line per document) and re-ingest it through BOTH
    line-oriented ``spark.read.text`` and whole-file
    ``format("binaryFile")`` — the ingestion front door for text dumps
    and the opaque-bytes path multimodal corpora arrive through (D72's
    upstream). Verified: line count = document count, an
    order-independent corpus digest over the re-read lines equals the
    oracle's digest over the source table, and the binaryFile byte
    total equals sum(n_chars) + one newline per line (byte-exact
    round-trip, ASCII corpus).

    Scale: the text sink writes one file per partition (never per row);
    binaryFile streams file CONTENT lazily per task with a 4 MB-default
    partition packing — at 100 TB both sides parallelize by file, and
    the digest is a single partial-aggregated fold."""
    docs = load_table(spark, sf_dir, "documents")
    out = scratch_dir("sinks_documents_text")
    docs.select("text").write.mode("overwrite").text(out)
    lines = spark.read.text(out)
    # Global two-level digest (functions/digest.py): the single-group
    # fold otherwise buffers the WHOLE corpus's lines on one reducer.
    line_side = two_level_digest(
        lines, [], F.col("value"), count_alias="n_docs", digest_alias="corpus_md5"
    )
    byte_side = (
        spark.read.format("binaryFile")
        .load(out)
        .agg(F.sum(F.length("content")).cast("long").alias("total_bytes"))
    )
    return line_side.crossJoin(F.broadcast(byte_side))


@query(
    "d128_jsonl_roundtrip",
    tags=("D128", "D2", "D99"),
    oracle=sql_two_level_digest(
        "documents",
        ["lang"],
        _DOC_PAYLOAD_SQL,
        count_alias="n",
        digest_alias="corpus_md5",
        sum_exprs={"total_chars": "n_chars"},
    ),
)
def d128_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL round-trip — the de-facto interchange format for training
    corpora (one JSON object per line, splittable, appendable): write
    the corpus as lang-partitioned JSON lines with an explicit schema,
    re-read it WITH that schema (never infer in a production path —
    inference is an extra full scan and type-drifts on empty
    partitions), and prove content preservation with the same
    order-independent per-doc digest as the ORC round-trip (D99).

    Scale: the JSON source is splittable by line, so re-ingest
    parallelizes like text; partition pruning on lang works exactly as
    parquet's. JSON pays ~5-10x parquet's scan cost at 100 TB — this
    operator exists because corpora ARRIVE as JSONL, not because it
    should stay that way (D101's shard export is the conversion)."""
    docs = load_table(spark, sf_dir, "documents")
    out = scratch_dir("sinks_documents_jsonl")
    docs.write.mode("overwrite").partitionBy("lang").json(out)
    back = spark.read.schema(
        "doc_id long, text string, source string, n_chars long, lang string"
    ).json(out)
    return two_level_digest(
        back,
        ["lang"],
        _doc_payload(),
        count_alias="n",
        digest_alias="corpus_md5",
        sum_cols={"total_chars": "n_chars"},
    )


@query(
    "d129_schema_evolution",
    tags=("D129", "D4", "D2"),
    oracle="""
    WITH v1 AS (
        SELECT doc_id, CAST(NULL AS DOUBLE) AS quality, 1 AS batch
        FROM documents
    ),
    v2 AS (
        SELECT doc_id, n_chars / 100.0 AS quality, 2 AS batch
        FROM documents
    ),
    merged AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT batch,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_quality,
           floor(coalesce(avg(quality), 0) * 1000000.0 + 0.5) / 1000000.0 AS avg_quality,
           CAST(min(doc_id) AS BIGINT) AS min_doc
    FROM merged GROUP BY batch ORDER BY batch
    """,
)
def d129_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: batch 1 of the corpus lands WITHOUT the
    ``quality`` column, batch 2 lands with it, and a single
    ``mergeSchema`` read reconciles both under the widened schema
    (missing column → NULL for the old files) — how a growing corpus
    gains derived columns in place without rewriting history. Checked:
    per-batch counts, null accounting for the evolved column, and its
    aggregate over the batch that has it.

    Scale: schema merge is a FOOTER-only operation (one metadata task
    per file, no data scan), and the per-file physical schema drives
    column pruning as usual — old files never read pages for columns
    they lack. The practice this operator pins: turn mergeSchema ON for
    the read that discovers the union schema, then pin the merged
    schema explicitly in production readers (inference-free, like
    D128)."""
    docs = load_table(spark, sf_dir, "documents")
    out = scratch_dir("sinks_documents_evol")
    docs.select("doc_id").write.mode("overwrite").parquet(f"{out}/batch=1")
    docs.select(
        "doc_id", (F.col("n_chars") / 100.0).alias("quality")
    ).write.mode("overwrite").parquet(f"{out}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return (
        merged.groupBy("batch")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("quality").isNull().cast("int")).cast("long").alias(
                "n_null_quality"
            ),
            pround(F.coalesce(F.avg("quality"), F.lit(0.0)), 6).alias("avg_quality"),
            F.min("doc_id").alias("min_doc"),
        )
        .orderBy("batch")
    )


# ---------------------------------------------------------------------------
# D149: corrupt-record quarantine on CSV ingest (PERMISSIVE round-trip)
# ---------------------------------------------------------------------------


@query(
    "d149_corrupt_quarantine",
    tags=("D149", "D2", "R7"),
    oracle=f"""
    SELECT lang, n_good, n_quarantined, chars_good, good_ids_md5
    FROM ({sql_two_level_digest(
        "(SELECT lang, doc_id, n_chars, (doc_id % 37 = 0) AS bad FROM documents)",
        ["lang"],
        "CASE WHEN NOT bad THEN CAST(doc_id AS VARCHAR) END",
        count_alias="_n_rows",
        digest_alias="good_ids_md5",
        sum_exprs={
            "n_good": "CASE WHEN NOT bad THEN 1 ELSE 0 END",
            "n_quarantined": "CASE WHEN bad THEN 1 ELSE 0 END",
            "chars_good": "CASE WHEN NOT bad THEN n_chars ELSE 0 END",
        },
    )})
    ORDER BY lang
    """,
)
def d149_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine on CSV ingest: a synthetic feed where
    every 37th document's numeric field is mangled is read back under
    PERMISSIVE mode with an explicit ``columnNameOfCorruptRecord``, and
    rows split into the good path and the quarantine path with per-lang
    accounting — the reference's whole failure model is 'skip the
    broken record and log' (/root/reference/charlotte/__init__.py:250
    catches struct.error per unified2 record); this is that policy as a
    first-class, AUDITED dataflow instead of a log line.

    Why PERMISSIVE and not DROPMALFORMED: dropped rows are silent data
    loss — the quarantine column keeps the raw line for replay, and the
    good/bad counts make loss measurable. Scale: the corrupt column is
    populated scan-stage (no extra pass); both output legs come off one
    groupBy of the single read. The oracle never sees the CSV — it
    recomputes the expected split from the source table (the D136
    round-trip-proof pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    out = scratch_dir("sinks_documents_dirty_csv")
    lines = docs.select(
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 37 == 0,
                F.concat(F.lit("X"), F.col("n_chars").cast("string")),
            ).otherwise(F.col("n_chars").cast("string")),
            F.col("lang"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(out)
    back = (
        spark.read.schema("doc_id long, n_chars long, lang string, _quarantine string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_quarantine")
        .csv(out)
    )
    good = F.col("_quarantine").isNull()
    # Two-level digest (functions/digest.py): the good-id roster per
    # lang is corpus-scale — never one reducer's buffer. Quarantined
    # rows carry a NULL payload: counted, not digested (both engines).
    cls = back.select(
        "lang",
        F.when(good, F.col("doc_id").cast("string")).alias("gid"),
        good.cast("long").alias("g"),
        (~good).cast("long").alias("b"),
        F.when(good, F.col("n_chars")).otherwise(0).alias("cg"),
    )
    return two_level_digest(
        cls,
        ["lang"],
        F.col("gid"),
        count_alias="_n_rows",
        digest_alias="good_ids_md5",
        sum_cols={"n_good": "g", "n_quarantined": "b", "chars_good": "cg"},
    ).select("lang", "n_good", "n_quarantined", "chars_good", "good_ids_md5")


# ---------------------------------------------------------------------------
# D171: small-file compaction planner
# ---------------------------------------------------------------------------

# Fragmentation knobs: the corpus is written bucket-partitioned (a
# portable hash bucket per doc) to produce a REAL small-files layout,
# then the planner computes the per-partition rewrite a compactor
# would run toward the target file size.
_FRAG_BUCKETS = 16
_COMPACT_TARGET_ROWS = 200


@query(
    "d171_compaction_planner",
    tags=("D171", "D4", "D142"),
    oracle=f"""
    WITH layout AS (
        SELECT lang,
               CAST('0x' || substring(md5('frag|' || CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % {_FRAG_BUCKETS} AS bucket
        FROM documents
    ),
    per_lang AS (
        SELECT lang,
               count(DISTINCT bucket) AS n_files,
               count(*) AS n_rows
        FROM layout GROUP BY lang
    )
    SELECT lang,
           CAST(n_files AS BIGINT) AS n_files,
           CAST(n_rows AS BIGINT) AS n_rows,
           {sql_round("CAST(n_rows AS DOUBLE) / n_files", 4)} AS avg_rows_per_file,
           CAST(CAST(ceil(CAST(n_rows AS DOUBLE) / {_COMPACT_TARGET_ROWS}) AS BIGINT)
                AS BIGINT) AS planned_files,
           CAST(greatest(n_files - CAST(ceil(CAST(n_rows AS DOUBLE)
                / {_COMPACT_TARGET_ROWS}) AS BIGINT), 0) AS BIGINT) AS files_saved
    FROM per_lang ORDER BY lang
    """,
)
def d171_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: write the corpus hash-bucket
    partitioned (a deliberately fragmented layout — the many-tiny-files
    state every long-lived table drifts into), then compute per
    partition what a compactor would do: actual file count and rows per
    file from the FILES ON DISK (count of distinct input_file_name off
    the re-read, the write→read path D101 proves), target-file plan
    (ceil(rows / target)) and files saved by the rewrite. The oracle
    recomputes the expected layout from the synthesis rule (the
    D149/D168 recompute-from-source shape) — a writer defect (two files
    in one partition dir, dropped rows) or a planner arithmetic bug
    breaks the hash.

    Plan shape: one bucketed write (repartition on the partition
    columns so each (lang, bucket) is exactly one task = one file), one
    re-read rolled up per (lang, file) then lang — file-count facts
    come from filenames, not assumptions. At 100 TB this is the
    metadata pass a table service runs nightly: O(files) rows after
    the first fold, no data rewrite until the plan says so."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("frag|"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _FRAG_BUCKETS,
    )
    # The file-count accounting below assumes one file per (lang, bucket)
    # task; a session-level maxRecordsPerFile would split files and break
    # the hash as a LAYOUT change, not arithmetic (ADVICE r08) — refuse
    # loudly instead of mismatching confusingly.
    mrpf = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
    if mrpf not in ("0", None):
        raise RuntimeError(
            f"d171 needs spark.sql.files.maxRecordsPerFile unset (got {mrpf}): "
            "the planner's files-on-disk count assumes one file per partition dir"
        )
    out = scratch_dir("sinks_fragmented")
    (
        d.repartition("lang", "bucket")
        .write.mode("overwrite")
        .partitionBy("lang", "bucket")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        "lang", F.input_file_name().alias("file")
    )
    per_lang = back.groupBy("lang").agg(
        F.count_distinct("file").alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    planned = F.ceil(F.col("n_rows").cast("double") / _COMPACT_TARGET_ROWS).cast("long")
    return per_lang.select(
        "lang",
        "n_files",
        "n_rows",
        pround(F.col("n_rows").cast("double") / F.col("n_files"), 4).alias(
            "avg_rows_per_file"
        ),
        planned.alias("planned_files"),
        F.greatest(F.col("n_files") - planned, F.lit(0).cast("long")).alias(
            "files_saved"
        ),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# D180: XML round-trip (Spark 4 native XML source)
# ---------------------------------------------------------------------------


@query(
    "d180_xml_roundtrip",
    tags=("D180", "D2", "D128"),
    oracle=sql_two_level_digest(
        "documents",
        ["lang"],
        _DOC_PAYLOAD_SQL,
        count_alias="n",
        digest_alias="corpus_md5",
        sum_exprs={"total_chars": "n_chars"},
    ),
)
def d180_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip on Spark 4's NATIVE xml source (spark-xml was
    merged into core in 4.0 — no external package): write the corpus as
    lang-partitioned XML with an explicit rowTag, re-read it WITH the
    schema (the D128 no-inference discipline: inference costs an extra
    full scan and type-drifts on empty partitions), and prove content
    preservation — including the writer's entity escaping round-trip —
    with the same order-independent per-doc digest as D99/D128. The
    oracle recomputes the digest from the source table and never sees
    the XML (the D136 proof): a writer escaping bug, a reader rowTag
    miss, or a dropped partition all hash-mismatch.

    Scale: XML is the arrival format of several public corpora
    (Wikipedia dumps, PubMed); like JSONL this operator exists for
    INGEST — the row-level reader parallelizes per file and partition
    pruning on lang works as parquet's, but the conversion to columnar
    (D101) is the first thing the pipeline does."""
    docs = load_table(spark, sf_dir, "documents")
    out = scratch_dir("sinks_documents_xml")
    (
        docs.write.mode("overwrite")
        .partitionBy("lang")
        .option("rowTag", "doc")
        .format("xml")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        # Match the writer exactly (ADVICE r08): the reader's default
        # ignoreSurroundingSpaces=true would silently trim texts with
        # whitespace edges and fail the digest on a correct round-trip.
        .option("ignoreSurroundingSpaces", "false")
        .schema("doc_id long, text string, source string, n_chars long, lang string")
        .load(out)
    )
    return two_level_digest(
        back,
        ["lang"],
        _doc_payload(),
        count_alias="n",
        digest_alias="corpus_md5",
        sum_cols={"total_chars": "n_chars"},
    )
