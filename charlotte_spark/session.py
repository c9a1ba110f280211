"""SparkSession factory for the engine.

Pins the settings the DuckDB oracle comparison depends on (UTC session
timezone, ANSI off for permissive casts) and the settings a 100 TB
deployment needs from day one (AQE + skew-join handling, Arrow for the
Python boundary). On a real cluster only ``master``/memory change; the
SQL-level configs are identical, so plans tested locally are the plans
that run at scale.

Reference parity: charlotte has no session concept — it is a daemon
(/root/reference/scripts/charlotte:42-52). Our equivalent of its Config
validation (charlotte/__init__.py:123-153) is this explicit builder.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from .operators.loopstate import _scratch_root

# Shuffle partitions: match local cores while testing; on a real cluster
# AQE coalesces the post-shuffle partitions anyway, so a higher initial
# number (e.g. 2000 for 100 TB inputs) only affects the pre-AQE plan.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_CKPT_DIR_LOCK = threading.Lock()


def arrow_table(rows, schema):
    """``rows`` as a pyarrow table with the Arrow types Spark gives
    ``schema`` (int→int32, bigint→int64, ...), so a parquet file written
    from it reads back in Spark as ``schema``. ``rows`` are tuples in
    ``schema`` order or dicts keyed by column name; ``schema`` is a DDL
    string or a StructType."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    if rows and isinstance(rows[0], dict):
        return pa.Table.from_pylist(rows, schema=arrow)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )


def local_df(spark: SparkSession, rows, schema):
    """Small driver-local DataFrame (dims, maps, ledgers, markers),
    built in the JVM from an Arrow table (``arrow_table``, same
    ``rows``/``schema`` forms).

    ``createDataFrame`` over Python rows, list or RDD, yields a Python
    RDD, so every scan of the frame starts a Python-worker task; the
    snorby sink broadcasts its maps and dims per micro-batch, paying
    that start each time. An Arrow table lands in the JVM as a local
    relation and is scanned with no Python worker (measured warm on a
    4-core host: a broadcast join of a 20-row dim fell from 0.29-0.33 s
    to about 0.14 s)."""
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    return spark.createDataFrame(arrow_table(rows, struct), struct)


def reliable_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize an intermediate and cut its lineage, fault-tolerantly.

    ``localCheckpoint()`` pins blocks in executor memory: fast, but not
    recomputable — one lost executor kills a 100 TB job mid-flight, so
    it is banned from the engine's shared-intermediate pattern.
    ``checkpoint()`` writes to ``spark.checkpoint.dir``; a cluster
    deployment points that at the DFS, locally it defaults to RAM-backed
    scratch (the single-JVM stand-in for a fast DFS). The input is
    persisted first so the checkpoint write re-reads cached blocks
    instead of recomputing the whole lineage (the classic
    double-compute trap), then unpersisted — the checkpoint files are
    the only retained copy."""
    sc = df.sparkSession.sparkContext
    with _CKPT_DIR_LOCK:  # concurrent callers (a229) must not race the init
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(_scratch_root("CHARLOTTE_CKPT_DIR", "charlotte_ckpt"))
    cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    out = cached.checkpoint(eager=True)
    cached.unpersist()
    return out


def join_futures(futs) -> None:
    """Join concurrently submitted Spark jobs, raising as soon as one
    fails: a plain ``for f in futs: f.result()`` loop only raises in
    submission order, so a crash in a later job is masked until every
    earlier job's result is consumed. When several have failed by then,
    the earliest-submitted one's exception is raised. Siblings that
    have not started are cancelled; running ones finish on their own
    (their writes are idempotent overwrites/appends the caller retries
    or discards). Callers that size the pool to ``len(futs)`` have no
    unstarted siblings, so for them nothing is cancelled."""
    from concurrent.futures import FIRST_EXCEPTION, wait

    futs = list(futs)
    wait(futs, return_when=FIRST_EXCEPTION)
    failed = [f for f in futs if f.done() and not f.cancelled() and f.exception()]
    if failed:
        for f in futs:
            f.cancel()
        raise failed[0].exception()


def get_spark(app_name: str = "charlotte-spark", cpus: str | int | None = None) -> SparkSession:
    """Return the shared SparkSession, creating it on first call."""
    cpus = str(cpus or _DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- correctness-critical (oracle parity, SURVEY §2 caveats) ---
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet INT64(TIMESTAMP(NANOS)) (events.ts) has no native Spark
        # type; read as epoch-nanos long and convert in catalog.load_table
        # (truncating to micros, exactly what DuckDB's reader does).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- scale-critical: identical on the 1000-executor cluster ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # GC reliable-checkpoint files once their RDDs are unreferenced
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # --- local-mode only ---
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "90g"))
        # Whole-stage codegen emits a fresh JIT-compiled class per plan;
        # a few hundred distinct queries in ONE JVM (the bench sweep)
        # fill the default 240 MB code cache, after which HotSpot stops
        # compiling and every late query runs interpreted (observed r11:
        # the bench tail degraded 2-12x — d102 6s->38s across its own
        # three runs — while the same queries ran at full speed in a
        # fresh process). On a real cluster executors are long-lived
        # too, so the bigger cache is the production setting, not a
        # bench hack.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/charlotte_spark_warehouse")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
