"""Streaming test/replay harness (SURVEY §5.2 stream-equals-batch).

Replays the ``events`` table as a chronologically-chunked file stream
(the D6/R1 spool shape: a directory that accumulates files), runs a
streaming query over it synchronously, and exposes the final sink as a
DataFrame — so streaming operators can be registered in the ordinary
query registry and oracle-checked against DuckDB's batch answer over
the same rows.

``shuffle_chunks=True`` delivers chunks out of chronological order
(middle-out), which is how the watermark/late-data queries (D56) get
genuinely late rows.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.loopstate import BASE, scratch_dir
from ..schemas import EVENTS

_counter = itertools.count()

# Shared sentinel timestamp: far past every real event window, so one
# chunk-dir materialization (shuffled + sentinel) serves every registry
# streaming query regardless of whether it needs watermark flushing.
DEFAULT_SENTINEL_TS = "2024-06-01 00:00:00"


def events_chunk_dir(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 8,
    shuffle_chunks: bool = False,
    sentinel_ts: str | None = None,
) -> str:
    """Materialize events as n_chunks single-file parquet chunks in ts
    order (or shuffled order when testing late data); cached on disk.

    ``sentinel_ts`` appends a final one-row chunk (event_id = -1) far in
    the future — it advances the watermark past every real window so
    append-mode sinks flush completely (filter it from results)."""
    sig = hashlib.md5(
        f"{sf_dir}|{n_chunks}|{shuffle_chunks}|{sentinel_ts}".encode()
    ).hexdigest()[:12]
    out = f"{BASE}/stream/src_{sig}"
    marker = f"{out}/_READY"
    if os.path.exists(marker):
        return out

    # ONE distributed write, never a driver collect of the table (the
    # r03 verdict's only unbounded .collect() in the package):
    # repartitionByRange on (ts, event_id) yields n_chunks contiguous
    # time ranges (partition 0 = earliest); spark_partition_id() is the
    # chronological chunk index, remapped to a delivery index and used
    # as the write partition column — each task holds exactly one
    # delivery value, so every chunk=NNN dir gets exactly one file.
    order = list(range(n_chunks))
    if shuffle_chunks:
        # deterministic late-data order: even chunks first, then odd
        order = order[::2] + order[1::2]
    delivery_of = {c: d for d, c in enumerate(order)}
    delivery_arr = F.array(*[F.lit(delivery_of[c]) for c in range(n_chunks)])
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    (
        load_table(spark, sf_dir, "events")
        .select(*cols)
        .repartitionByRange(n_chunks, "ts", "event_id")
        .sortWithinPartitions("ts", "event_id")
        .withColumn(
            "chunk",
            F.format_string(
                "%03d", F.element_at(delivery_arr, F.spark_partition_id() + 1)
            ),
        )
        .write.partitionBy("chunk")
        .mode("overwrite")
        .parquet(out)
    )
    if sentinel_ts is not None:
        # 1-row far-future chunk, delivered last: bounded driver-side
        # pyarrow write, no Spark job
        import datetime as _dt

        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [
                pa.field("event_id", pa.int64()),
                pa.field("ts", pa.timestamp("us")),
                pa.field("user_id", pa.int64()),
                pa.field("event_type", pa.string()),
                pa.field("value", pa.float64()),
                pa.field("props", pa.string()),
            ]
        )
        cdir = f"{out}/chunk={n_chunks:03d}"
        os.makedirs(cdir, exist_ok=True)
        pq.write_table(
            pa.Table.from_pydict(
                {
                    "event_id": [-1],
                    "ts": [_dt.datetime.strptime(sentinel_ts, "%Y-%m-%d %H:%M:%S")],
                    "user_id": [-1],
                    "event_type": ["__sentinel__"],
                    "value": [0.0],
                    "props": ["{}"],
                },
                schema=schema,
            ),
            f"{cdir}/part-0.parquet",
        )
    # The file-stream source admits files in (modification time, path)
    # order; the concurrent distributed write gives every chunk file the
    # same mtime to within clock granularity, so pin mtimes explicitly:
    # delivery order must be the DIRECTORY order, deterministically.
    import glob
    import time as _time

    base = _time.time() - 3600
    for d in range(n_chunks + (1 if sentinel_ts is not None else 0)):
        for pth in sorted(glob.glob(f"{out}/chunk={d:03d}/*.parquet")):
            os.utime(pth, (base + d, base + d))
    with open(marker, "w") as f:
        f.write("ok")
    return out


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 8,
    shuffle_chunks: bool = False,
    sentinel_ts: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the chunked events replay.

    Default is a single-trigger replay (no admission control → the file
    source takes every available file in batch 0): the correctness gate
    only needs the final sink to equal the batch answer, and each extra
    micro-batch costs a state-store commit + offset-log fsync per state
    partition. Watermark flushing still works in one trigger — the
    sentinel row updates the watermark after batch 0 and the no-data
    batch that follows (noDataMicroBatches, on by default) evicts and
    emits the closed windows before processAllAvailable returns.
    Genuine multi-batch semantics (late-data drop, cross-batch state
    merge, per-file rollover) are exercised with explicit
    ``max_files_per_trigger`` in tests/test_streaming.py."""
    src = events_chunk_dir(spark, sf_dir, n_chunks, shuffle_chunks, sentinel_ts)
    reader = spark.readStream.schema(EVENTS)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.option("recursiveFileLookup", "true").parquet(src)


def unload_state_stores(spark: SparkSession) -> None:
    """Unload every cached state-store provider and park the maintenance
    thread (it restarts lazily with the next stateful stream).

    The replay harness runs many short-lived stateful streams in one
    JVM; each leaves its partitions' providers cached for a maintenance
    thread that assumes the checkpoint dir still exists. We delete
    checkpoints on teardown, so background maintenance can only do
    useless (and occasionally contended) work — unloading providers at
    stream end keeps later stateful queries from ever waiting on it.
    Scala-object call via py4j; best-effort, a no-op if the internal
    API moves."""
    try:
        pkg = spark._jvm.org.apache.spark.sql.execution.streaming.state
        getattr(pkg, "StateStore$").__getattr__("MODULE$").stop()
    except Exception:
        pass


def run_to_memory(
    sdf: DataFrame, output_mode: str, state_partitions: int = 16
) -> DataFrame:
    """Run a streaming DF to completion into a memory sink; return the
    sink's contents as a batch DataFrame.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    stream's lifetime (restored after). With the single-trigger replay
    the commit-per-batch multiplier is gone, so the count is sized for
    addBatch parallelism instead: 16 halves the session-window merge
    vs 8 (measured at sf0.1) while keeping state-store commit fan-out
    small. On a real cluster size it to the stateful key cardinality.
    The count is locked into the checkpoint at first batch."""
    spark = sdf.sparkSession
    name = f"stream_sink_{next(_counter)}"
    state = scratch_dir(name)
    ckpt, rows_dir = f"{state}/ckpt", f"{state}/rows"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    out = spark.table(name)
    # Pin the sink rows to scratch parquet (one JVM-side write, no
    # Python collect/re-parallelize round-trip — the sink can hold 100k
    # rows), then release the temp view and the tmpfs checkpoint: a long
    # session otherwise accumulates one memory-sink table + one
    # RAM-backed checkpoint dir per streaming query.
    out.coalesce(4).write.mode("overwrite").parquet(rows_dir)
    spark.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    unload_state_stores(spark)
    return spark.read.parquet(rows_dir)
