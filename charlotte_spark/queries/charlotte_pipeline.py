"""End-to-end charlotte pipeline queries (SURVEY §2.1 R1-R21, §7 Phase 3/4).

The reference tails unified2 spool directories, parses/decodes alerts,
enriches them against hot-reloadable maps, and upserts a snorby star
schema (/root/reference/charlotte/__init__.py:253-611). These queries
run the same pipeline Spark-first over deterministic synthetic spools
(the driver's testdata has no unified2 binaries, so fixtures are
generated on first use and cached under the engine scratch base).

DuckDB cannot parse unified2, so the *semantic* gate is the golden
test in tests/test_charlotte.py — a straight-line Python
reimplementation of the reference's `_push_to_db` semantics
(charlotte/__init__.py:463-538) compared table-by-table against this
pipeline's output. For DRIVER-grade hash evidence these queries use
the round-trip-digest pattern (``rt_digest``): the row-level output
is materialized to parquet, Spark folds it to per-group md5 digests,
and the registered oracle independently folds the SAME parquet with
DuckDB's md5/string_agg pipeline — two engines aggregating the same
materialized rows, so a nondeterministic pipeline, a parquet
type-mapping bug, or a digest-fold bug all hash-mismatch. The
listener-based rollover hook carries a literal-invariant oracle (the
fixture's file count and complete=1), so every pipeline row is
hash-grade.

Scale notes: parse+decode is one Arrow pass per spool file (perfectly
parallel — at 100 TB this is N_files map tasks, no shuffle); enrichment
joins broadcast KB-sized maps; the only shuffle is the per-sensor
window for cid sequencing, partitioned by sensor (thousands of sensors
→ thousands of partitions, no skew beyond per-sensor volume, salted
only if one sensor dominates).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cli import drain, enriched, star_sink, u2fast_line
from ..functions.digest import two_level_digest
from ..operators.loopstate import BASE, scratch_dir
from ..registry import query
from .roundtrip import rt_digest, rt_oracle, rt_path
from ..session import local_df
from ..sources.u2_spark import read_spools
from ..sources.unified2 import write_spool
from ..streaming.snorby import DIM_TABLES, FACT_TABLES, SnorbyDB

FIXTURE_DIR = f"{BASE}/u2"


def u2_fixture(n_files: int = 3, events_per_file: int = 40) -> dict:
    """Two-sensor spool layout + map files, deterministic, cached.

    The layout is SHARED-PARENT-SHAPED (<parent>/<sensor_name>/, one
    common prefix) — the evolution-safe deployment d185 proves is the
    only one that can grow sensors across a checkpoint restart, and
    the engine's own default fixture should model the layout it
    recommends (VERDICT r12 #6: the old <base>/a|b naming made every
    CLI/pipeline test take the warned legacy union path).
    ``spools_legacy`` preserves that non-shared shape for the tests
    that cover the legacy union path explicitly. The map files sit in
    ``global``, the config section ``cli.run`` reads them from."""
    sig = f"v6_{n_files}x{events_per_file}"
    base = f"{FIXTURE_DIR}/{sig}"
    marker = f"{base}/_READY"
    spools = {
        "sensor_a": {"directories": [f"{base}/sensor_a"], "prefix": "snort.u2"},
        "sensor_b": {"directories": [f"{base}/sensor_b"], "prefix": "snort.u2"},
    }
    maps = {
        "signature_map": f"{base}/sid-msg.map",
        "generator_map": f"{base}/gen-msg.map",
        "classification_map": f"{base}/classification.config",
    }
    if not os.path.exists(marker):
        write_spool(
            f"{base}/sensor_a",
            n_files=n_files,
            events_per_file=events_per_file,
            sensor_id=1,
        )
        write_spool(
            f"{base}/sensor_b",
            n_files=max(1, n_files - 1),
            events_per_file=events_per_file,
            sensor_id=2,
            base_second=1_700_100_000,
        )
        with open(maps["signature_map"], "w") as f:
            for s in range(20):
                f.write(f"{1_000_000 + s} || Known Signature {s}\n")
        with open(maps["generator_map"], "w") as f:
            f.write("# generator map\n2 || 1 || Generator Two Alert\n")
        with open(maps["classification_map"], "w") as f:
            for i in range(1, 6):
                f.write(f"config classification: class-{i},Class {i} Description,{i}\n")
        with open(marker, "w") as f:
            f.write("ok")
    # Same files under config names that do NOT match the directory
    # basenames — the genuinely legacy (non-shared-parent) shape, for
    # the tests that pin the union-path warning.
    spools_legacy = {
        "sensor_one": spools["sensor_a"],
        "sensor_two": spools["sensor_b"],
    }
    return {"global": maps, "spools": spools, "spools_legacy": spools_legacy}


_STREAMED_STAR: dict[int, SnorbyDB] = {}


def _streamed_star(spark: SparkSession) -> SnorbyDB:
    """One streamed-pipeline star per process, shared by the queries
    that AUDIT it (d58 cid density, d60 table counts) — each audit is
    read-only, the replay is deterministic, and rebuilding the same
    star twice was the single biggest cost in the driver's correctness
    run. Restart/recovery tests build their own dbs."""
    pid = os.getpid()
    if pid not in _STREAMED_STAR:
        db = _fresh_db(spark, "streamed_shared")
        fx = u2_fixture()
        # 3 files per trigger: a 2-micro-batch replay, so cross-batch cid
        # sequencing and dim upserts are exercised at a fraction of the
        # per-batch fixed cost
        drain(spark, fx["spools"], star_sink(spark, fx["global"], db),
              f"{db.path}_ckpt", max_files_per_trigger=3)
        _STREAMED_STAR[pid] = db
    return _STREAMED_STAR[pid]


def _fresh_db(spark: SparkSession, name: str) -> SnorbyDB:
    return SnorbyDB(spark, scratch_dir(f"db_{name}"))


def run_batch_pipeline(spark: SparkSession, db: SnorbyDB) -> None:
    """Whole-input batch run: the stream's foreachBatch body called once."""
    fx = u2_fixture()
    star_sink(spark, fx["global"], db)(read_spools(spark, fx["spools"]), 0)


def crash_and_resume(
    spark: SparkSession,
    db: SnorbyDB,
    ckpt: str,
    fx: dict,
    crash_batch: int | None = None,
    after: bool = False,
    cap: int = 1,
    resume_cap: int | None = None,
) -> tuple[float, float]:
    """The crash-and-resume drill: drain ``fx``'s spools through
    `star_sink` into ``db`` under the fresh checkpoint ``ckpt``, ``cap``
    files per trigger, until an injected crash kills the stream; then
    resume from the same checkpoint as a restarted process would, with
    a new ``SnorbyDB`` over ``db.path`` (no dim or ledger cache) and
    ``resume_cap`` (default ``cap``) files per trigger.

    The drill raises the crash right before the body of batch
    ``crash_batch``, or right after it with ``after``; with
    ``crash_batch`` None, ``db`` itself must raise it (a ``SnorbyDB``
    whose writes fail mid-batch). Either way its message contains
    "injected crash". Returns the wall seconds of the crashed run and
    of the resume."""
    sink = star_sink(spark, fx["global"], db)

    def crashing(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id == crash_batch and not after:
            raise RuntimeError(f"injected crash before batch {batch_id}")
        sink(batch_df, batch_id)
        if batch_id == crash_batch and after:
            # the batch is in the star and the ledger, but the stream dies
            # before the checkpoint's commit log records it
            raise RuntimeError(f"injected crash after batch {batch_id}")

    crashed = False
    t0 = time.perf_counter()
    try:
        drain(spark, fx["spools"], crashing, ckpt, max_files_per_trigger=cap)
    except Exception as e:  # StreamingQueryException wrapping the injection
        if "injected crash" not in str(e):
            raise
        crashed = True
    crash_s = time.perf_counter() - t0
    # Raised OUTSIDE the try so the except above can never swallow it: a
    # crash that does not fire must fail loudly, not degrade the audit to
    # comparing two uninterrupted runs.
    if not crashed:
        raise AssertionError("injected crash did not fire")

    t0 = time.perf_counter()
    resumed = star_sink(spark, fx["global"], SnorbyDB(spark, db.path))
    drain(spark, fx["spools"], resumed, ckpt, max_files_per_trigger=resume_cap or cap)
    return crash_s, time.perf_counter() - t0


def cid_density(event: DataFrame) -> DataFrame:
    """D58 audit of a star's ``event`` cids: per sensor ``sid``, the row
    count ``n`` and ``dense`` = 1 when its cids are exactly 1..n (no gap,
    no duplicate), else 0."""
    return (
        event.groupBy("sid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("cid").alias("n_distinct"),
            F.min("cid").alias("min_cid"),
            F.max("cid").alias("max_cid"),
        )
        .select(
            "sid",
            "n",
            ((F.col("n") == F.col("n_distinct"))
             & (F.col("min_cid") == 1)
             & (F.col("max_cid") == F.col("n"))).cast("int").alias("dense"),
        )
        .orderBy("sid")
    )


def _star_summary(spark: SparkSession, db: SnorbyDB) -> DataFrame:
    """Deterministic projection of the star: events joined to dims plus
    per-protocol fact counts — the shape a snorby console reads."""
    event, sensor, signature = (db.read(t) for t in ("event", "sensor", "signature"))
    return (
        event.join(F.broadcast(sensor.select("sid", "hostname")), "sid")
        .join(
            F.broadcast(signature.select(F.col("sig_id").alias("signature"), "sig_name", "sig_priority")),
            "signature",
        )
        .select(
            "hostname",
            "cid",
            "sig_name",
            "sig_priority",
            F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        )
        .orderBy("hostname", "cid")
    )


@query(
    "r_charlotte_ingest_decode",
    tags=("R1", "R4", "R6", "R7", "R8", "R9", "R10", "D64"),
    oracle=rt_oracle("ingest_decode", "sensor_proto"),
)
def r_charlotte_ingest_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse+decode only: spool bytes → one row per (alert, packet) with
    flat protocol header columns, folded to per-(sensor, protocol)
    round-trip digests (``rt_digest``) so the driver hash pins every
    decoded field — event id, packet position, extra-record count,
    timestamps, decoded src/dst addresses and the L4 discriminator."""
    fx = u2_fixture()
    alerts = read_spools(spark, fx["spools"], streaming=False)
    proto = (
        F.when(F.col("tcp_sport").isNotNull(), "tcp")
        .when(F.col("udp_sport").isNotNull(), "udp")
        .when(F.col("icmp_type").isNotNull(), "icmp")
        .otherwise("none")
    )

    def s(c: F.Column) -> F.Column:
        return F.coalesce(c.cast("string"), F.lit("-"))

    rows = alerts.withColumn("proto", proto).select(
        F.concat_ws("/", "sensor_name", "proto").alias("sensor_proto"),
        F.concat_ws(
            "|",
            s(F.col("event_id")),
            s(F.col("packet_pos")),
            s(F.col("n_extra")),
            s(F.col("event_second")),
            s(F.col("event_ip_src")),
            s(F.col("event_ip_dst")),
            s(F.coalesce("tcp_sport", "udp_sport", "icmp_type")),
        ).alias("payload"),
    )
    return rt_digest(rows, "ingest_decode", "sensor_proto")


@query(
    "r_charlotte_batch_pipeline",
    tags=("R9", "R11", "R12", "R13", "R14", "R16", "R17", "R18", "R19", "R21"),
    oracle=rt_oracle("batch_pipeline", "hostname"),
)
def r_charlotte_batch_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full batch pipeline into a fresh snorby star; the joined star
    summary (golden-checked in tests/test_charlotte.py) is folded to
    per-sensor round-trip digests, pinning cid sequence, signature
    enrichment, priority and normalized timestamps under driver hash."""
    db = _fresh_db(spark, "batch")
    run_batch_pipeline(spark, db)
    rows = _star_summary(spark, db).select(
        "hostname",
        F.concat_ws(
            "|",
            F.col("cid").cast("string"),
            "sig_name",
            F.col("sig_priority").cast("string"),
            "ts",
        ).alias("payload"),
    )
    return rt_digest(rows, "batch_pipeline", "hostname")


@query(
    "r_charlotte_text_mode",
    tags=("R22",),
    oracle=rt_oracle("text_mode", "sensor_name"),
)
def r_charlotte_text_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-mode sink (R22): the reference's `charlotte <conf> test`
    prints each alert as a formatted line instead of writing MySQL
    (charlotte/__init__.py:284-337). Here the same enriched stream is
    formatted JVM-side (`format_string`) into u2fast-shaped lines —
    in production this DataFrame goes to `.writeStream.format("console")`.
    The lines fold to per-sensor round-trip digests, so the driver hash
    pins the exact rendered text."""
    fx = u2_fixture()
    e = enriched(spark, fx["global"], read_spools(spark, fx["spools"]))
    rows = e.select(
        "sensor_name",
        F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.coalesce("packet_pos", F.lit(-1)).cast("string"),
            u2fast_line(),
        ).alias("payload"),
    )
    return rt_digest(rows, "text_mode", "sensor_name")


@query(
    "d58_cid_sequencer_stream",
    tags=("D58", "D60", "R19", "R2", "R5"),
    oracle=f"""
    SELECT sid, CAST(count(*) AS BIGINT) AS n,
           CAST(1 AS INT) AS dense
    FROM read_parquet('{rt_path("cid_sequencer")}/*.parquet')
    GROUP BY sid ORDER BY sid
    """,
)
def d58_cid_sequencer_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming pipeline (multi-micro-batch) then a density
    audit of the per-sensor cid sequence: for every sensor, cids must be
    exactly 1..max with no gaps or duplicates across micro-batches —
    charlotte's serialized-writer guarantee (:554-570) reproduced by
    row_number + persisted last_cid offsets. The (sid, cid) pairs are
    materialized to parquet; Spark recomputes the density flag from
    them while the oracle pins it as the LITERAL 1 (the
    r_charlotte_rollover_hook pattern, ADVICE r07): a sequencer that
    ever produces gaps or duplicate cids makes Spark emit dense=0
    against the oracle's constant and the driver hash fails — the
    invariant itself is checked, not just fold agreement."""
    db = _streamed_star(spark)
    event = db.read("event")
    out = rt_path("cid_sequencer")
    event.select("sid", "cid").write.mode("overwrite").parquet(out)
    return cid_density(spark.read.parquet(out))


@query(
    "r_charlotte_event_records",
    tags=("R6",),
    oracle=rt_oracle("event_records", "sensor_family"),
)
def r_charlotte_event_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-type surface audit (idstools parity): the synthetic spools
    mix all four public event record types — legacy v1 (7), VLAN v2
    (104), IPv6 (72), IPv6-VLAN (105) — exactly the surface the
    reference inherits from idstools (charlotte/__init__.py:28-31).
    One digest row per (sensor, address family, vlan-tagged) over the
    (event id, vlan id) payloads, so a silently-dropped record type
    shows up as a missing group, a short count, or a digest mismatch."""
    fx = u2_fixture()
    alerts = read_spools(spark, fx["spools"], streaming=False)
    fam = F.when(F.col("event_ip_src").contains(":"), "ipv6").otherwise("ipv4")
    rows = alerts.filter(
        F.col("packet_pos").isNull() | (F.col("packet_pos") == 0)
    ).select(
        F.concat_ws(
            "/", "sensor_name", fam, F.col("vlan_id").isNotNull().cast("string")
        ).alias("sensor_family"),
        F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.coalesce(F.col("vlan_id").cast("string"), F.lit("-")),
        ).alias("payload"),
    )
    return rt_digest(rows, "event_records", "sensor_family")


@query(
    "r_charlotte_rollover_hook",
    tags=("R3",),
    oracle="""
    SELECT 3 AS expected_rollovers, 1 AS complete
    """,
)
def r_charlotte_rollover_hook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 rollover hook as a registry row: the reference fires a callback
    when the spool reader closes one file and opens the next
    (charlotte/__init__.py:108-120). Spark-native equivalent: with
    maxFilesPerTrigger=1 each micro-batch IS one file, so a
    StreamingQueryListener observes one progress event per rollover.
    Output: expected rollovers (deepest spool dir's file count) and
    whether the listener observed at least that many — a dropped hook
    shows up as complete=0.

    The oracle is a LITERAL INVARIANT, not a recomputation: the
    fixture is 3 files by construction (u2_fixture n_files=3), so the
    driver hash pins (3, complete=1) — i.e. the listener must actually
    observe every rollover, which no SQL can verify independently. A
    listener that drops progress events fails the hash."""
    from ..sources.u2_spark import RolloverListener

    fx = u2_fixture()
    n_files = max(
        len(os.listdir(d)) for cfg in fx["spools"].values() for d in cfg["directories"]
    )
    listener = RolloverListener()
    listener.attach(spark)
    ckpt = scratch_dir("rollover_q_ckpt")
    try:
        alerts = read_spools(spark, fx["spools"], streaming=True, max_files_per_trigger=1)
        q = (
            alerts.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        for _ in range(20):  # listener delivery is async
            if len([e for e in listener.events if e[1] > 0]) >= n_files:
                break
            time.sleep(0.5)
    finally:
        listener.detach(spark)
        shutil.rmtree(ckpt, ignore_errors=True)
    observed = len([e for e in listener.events if e[1] > 0])
    return local_df(
        spark,
        [(n_files, int(observed >= n_files))],
        "expected_rollovers int, complete int",
    )


@query(
    "r_charlotte_graceful_drain",
    tags=("R23",),
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def r_charlotte_graceful_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R23 graceful drain as a registry row: the reference drains
    in-flight alerts before exiting on SIGTERM (charlotte/__init__.py
    main-loop teardown). Spark-native: processAllAvailable() then an
    explicit stop() — no partial micro-batch survives, so the drained
    complete-mode sink must equal the batch answer over the same rows
    (hash-checked against the events table)."""
    from ..streaming.harness import events_stream, run_to_memory

    s = events_stream(spark, sf_dir, n_chunks=4)
    agg = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return run_to_memory(agg, "complete").orderBy("event_type")


@query(
    "d60_foreachbatch_upsert",
    tags=("D60", "R16", "R17", "R18", "R21"),
    oracle=rt_oracle("foreachbatch_upsert", "table_name"),
)
def d60_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch upsert sink as a first-class component: replay the
    spool stream through apply_batch (per-batch dim upserts + idempotent
    fact appends — the D60 contract), then audit the resulting star: one
    round-trip digest row per table over per-record md5s (every column
    JSON-rendered in sorted order), so a dropped batch, a double-applied
    batch, a missing dim upsert, or a corrupted column all surface as a
    count or digest mismatch. Empty tables keep a sentinel row so a
    silently-unwritten table stays visible."""
    db = _streamed_star(spark)
    parts = []
    for t in FACT_TABLES + DIM_TABLES:
        d = f"{db.path}/{t}"
        if os.path.exists(d):
            tdf = spark.read.parquet(d)
            parts.append(
                tdf.select(
                    F.lit(t).alias("table_name"),
                    F.md5(
                        F.to_json(F.struct(*[F.col(c) for c in sorted(tdf.columns)]))
                    ).alias("payload"),
                )
            )
        else:
            parts.append(
                local_df(spark, [(t, "EMPTY")], "table_name string, payload string")
            )
    # one lazy union job (all table scans run in parallel), not an eager
    # per-table .count() loop on the driver — 14 scheduler round-trips
    # collapsed to 1 (measured 2.4 s -> ~0.3 s at sf0.1)
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionAll(p)
    return rt_digest(rows, "foreachbatch_upsert", "table_name")


@query(
    "d182_restart_exactly_once",
    tags=("D182", "R2", "R18", "R21", "D60"),
    oracle=f"""
    SELECT d.hostname, d.n_rows, d.digest, CAST(1 AS INT) AS exactly_once
    FROM ({rt_oracle("restart_exactly_once", "hostname")}) d
    ORDER BY d.hostname
    """,
)
def d182_restart_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-restart exactly-once audit (VERDICT r08 #6b — the
    registered, driver-checkable form of
    tests/test_streaming.py::test_snorby_restart_recovery, with a
    STRONGER crash point): the unified2→snorby stream is killed AFTER
    micro-batch 1 fully applies and commits its applied-batch marker
    but BEFORE Spark's commit log records the batch — so the resumed
    stream RE-DELIVERS an already-applied batch and the ledger
    (streaming/snorby.py apply_batch, the reference's R18 upsert
    semantics at charlotte/__init__.py:541-611) must skip it; a sink
    without the idempotence ledger double-appends every fact row of
    that batch.

    Evidence is hash-grade two ways: (a) the restarted star's
    per-hostname rows fold through the round-trip digest (both engines
    aggregate the same materialized parquet), and (b) `exactly_once`
    compares that digest against an INDEPENDENT uninterrupted batch
    run's star and the oracle pins the literal 1 (the d58/a172
    invariant-pin discipline) — a duplicated or lost row flips the
    flag and fails the driver hash, row loss additionally desyncs
    n_rows/digest.

    At scale this is the recovery drill every exactly-once claim needs:
    kill -9 between sink commit and checkpoint commit re-delivers an
    applied batch (foreachBatch is at-least-once by contract), and the
    sink-side ledger is what skips it. Crashes inside a batch's writes
    are the crash-point matrix of tests/test_snorby.py, on the same
    drill (`crash_and_resume`)."""
    from concurrent.futures import ThreadPoolExecutor

    fx = u2_fixture()
    db = _fresh_db(spark, "restart_audit")
    ckpt = f"{db.path}_ckpt"

    # The uninterrupted reference star is INDEPENDENT of the
    # crash/resume sequence (separate db dir, same deterministic
    # fixture) — build it concurrently so it back-fills the stream
    # starts' idle capacity (guide §2.6).
    db_ref = _fresh_db(spark, "restart_audit_ref")
    ref_pool = ThreadPoolExecutor(max_workers=1)
    ref_fut = ref_pool.submit(run_batch_pipeline, spark, db_ref)

    try:
        # a one-file-per-batch stream dies right after applying batch 1
        # (the ledger skips its re-delivery), then resumes 3 files per batch
        crash_and_resume(spark, db, ckpt, fx, crash_batch=1, after=True, resume_cap=3)
        # join the concurrently-built uninterrupted reference star
        ref_fut.result()
    finally:
        # every exit path, a failed crash/resume included: drop the
        # reference build if it has not started, else wait for it, so
        # none of its Spark jobs outlive this query
        ref_pool.shutdown(wait=True, cancel_futures=True)

    def star_payload(star_db) -> DataFrame:
        return _star_summary(spark, star_db).select(
            "hostname",
            F.concat_ws(
                "|",
                F.col("cid").cast("string"),
                "sig_name",
                F.col("sig_priority").cast("string"),
                "ts",
            ).alias("payload"),
        )

    restarted = rt_digest(star_payload(db), "restart_exactly_once", "hostname")
    reference = two_level_digest(
        star_payload(db_ref),
        ["hostname"],
        F.col("payload"),
        count_alias="n_rows_ref",
        digest_alias="digest_ref",
    )
    return (
        # full outer: a hostname lost (or invented) by the restart still
        # surfaces as a row — which then count/oracle-mismatches
        restarted.join(reference, "hostname", "full")
        .select(
            "hostname",
            "n_rows",
            "digest",
            (
                F.col("digest").eqNullSafe(F.col("digest_ref"))
                & F.col("n_rows").eqNullSafe(F.col("n_rows_ref"))
            )
            .cast("int")
            .alias("exactly_once"),
        )
        .orderBy("hostname")
    )


# ---------------------------------------------------------------------------
# D185: spool-set evolution under checkpoint (R4 at day-2 ops)
# ---------------------------------------------------------------------------


def _evo_payload(decoded: DataFrame) -> DataFrame:
    return decoded.select(
        "sensor_name",
        F.concat_ws(
            "|",
            F.col("event_id"),
            F.col("event_second"),
            F.col("signature_id"),
            F.coalesce(F.col("packet_pos").cast("string"), F.lit("-")),
            F.coalesce(F.col("ip_src"), F.lit("-")),
            F.coalesce(F.col("ip_dst"), F.lit("-")),
        ).alias("payload"),
    )


@query(
    "d185_spool_evolution",
    tags=("D185", "R4", "R2", "R1"),
    oracle=f"""
    SELECT d.sensor_name, d.n_rows, d.digest, CAST(1 AS INT) AS no_reprocess
    FROM ({rt_oracle("spool_evolution", "sensor_name")}) d
    ORDER BY d.sensor_name
    """,
)
def d185_spool_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spool-set evolution under checkpoint (VERDICT r09 #6): the
    reference's most common day-2 operational change is adding a snort
    instance's spool directory to a running deployment
    (/root/reference/README.md:56-58 — N snort instances feed one
    sensor). Prove the stream RESUMES from its checkpoint with a grown
    spool set, picks up the new directory's files, and reprocesses or
    drops nothing.

    What Spark allows across a file-source checkpoint restart (and this
    query relies on): new files appearing under the SAME source path
    glob — the seen-files log admits them incrementally; option changes
    like maxFilesPerTrigger are also legal. What it forbids: changing
    the NUMBER or type of sources — so read_spools' one-union-branch-
    per-directory shape (R4's literal translation) canNOT grow at day 2.
    The evolution-safe deployment shape is therefore ONE binaryFile
    source over the sensor PARENT glob (``spools/*``), sensor identity
    derived from the subdirectory name; adding a sensor is mkdir + the
    snort instance writing its first rollover — no plan change, no new
    source (``read_spools`` compiles the shared-parent layout to it).

    Phases: (1) stream sensor_a's 3-file spool to a parquet sink with
    availableNow + checkpoint; (2) a NEW sensor_c directory appears
    (2 files, different sensor id); (3) the SAME stream definition
    resumes from the SAME checkpoint. Ground truth = one BATCH read of
    the final spool layout (every file exactly once, by construction).
    ``no_reprocess`` literal-pins digest AND count equality per sensor
    (the d182 discipline): a replayed file doubles payload rows in the
    multiset digest, a dropped file desyncs counts — either flips the
    flag and fails the driver hash.

    At 100 TB this is the recovery/elasticity drill for any file-fed
    deployment: source-set growth must be a metadata event (new files
    under a stable glob), never a topology change that invalidates the
    checkpoint."""
    root = scratch_dir("evo")
    parent, out, ckpt = f"{root}/spools", f"{root}/out", f"{root}/ckpt"

    def spools(*names: str) -> dict:
        return {n: {"directories": [f"{parent}/{n}"], "prefix": "snort.u2"} for n in names}

    def run_stream(*names: str) -> None:
        # 2 files/trigger: still multi-batch per phase (the resume
        # crosses batch boundaries), half the fixed micro-batch cost
        stream = read_spools(spark, spools(*names), streaming=True, max_files_per_trigger=2)
        q = (
            _evo_payload(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # phase 1: the original deployment — one sensor directory
    write_spool(f"{parent}/sensor_a", n_files=3, events_per_file=40, sensor_id=1)
    run_stream("sensor_a")

    # phase 2: day-2 change — a new snort instance's spool appears
    write_spool(
        f"{parent}/sensor_c",
        n_files=2,
        events_per_file=40,
        sensor_id=2,
        base_second=1_700_200_000,
    )
    # phase 3: resume from the SAME checkpoint with the grown spool set
    run_stream("sensor_a", "sensor_c")

    streamed = rt_digest(
        spark.read.parquet(out), "spool_evolution", "sensor_name"
    )
    truth = two_level_digest(
        _evo_payload(read_spools(spark, spools("sensor_a", "sensor_c"))),
        ["sensor_name"],
        F.col("payload"),
        count_alias="n_ref",
        digest_alias="digest_ref",
    )
    return (
        # full outer: a sensor lost (or invented) by the resume still
        # surfaces as a row — which then count/oracle-mismatches
        streamed.join(truth, "sensor_name", "full")
        .select(
            "sensor_name",
            "n_rows",
            "digest",
            (
                F.col("digest").eqNullSafe(F.col("digest_ref"))
                & F.col("n_rows").eqNullSafe(F.col("n_ref"))
            )
            .cast("int")
            .alias("no_reprocess"),
        )
        .orderBy("sensor_name")
    )
