"""Engine scratch paths and the arrival loops' generational state.

Every scratch path the engine writes lives under one base directory,
``BASE`` (``$CHARLOTTE_TMP``, else tmpfs, else /tmp); only
``reliable_checkpoint`` resolves its own directory, through the same
``_scratch_root``:

- ``BASE/<leaf>`` holds cross-process caches keyed by their inputs (the
  d131 signature index, the unified2 fixture, the streaming chunk dirs).
- ``PROC_DIR`` (``BASE/proc_<pid>``) holds this process's state and is
  removed at exit. Each call that writes state takes its own
  subdirectory there (``scratch_dir``), so a second call never
  overwrites files that a frame returned by the first still reads.

``LoopState`` is one such subdirectory seen as round generations: the
arrival loops (d181, d184, d187, d192, d200, d215) write each round's
state as ``<name>/round_id=<r>`` and probe the union of the earlier
generations instead of rewriting a merged copy every round.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _scratch_root(env: str, leaf: str) -> str:
    """``$env`` if set, else ``leaf`` on tmpfs when writable, else under
    /tmp. tmpfs because every streaming micro-batch fsyncs offset and
    commit logs, so checkpoint latency is the replay's fixed cost; on a
    cluster this is durable storage by necessity, and for a local run
    RAM is the honest equivalent of a fast DFS."""
    if os.environ.get(env):
        return os.environ[env]
    base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else "/tmp"
    return f"{base}/{leaf}"


BASE = _scratch_root("CHARLOTTE_TMP", "charlotte")
PROC_DIR = f"{BASE}/proc_{os.getpid()}"
atexit.register(shutil.rmtree, PROC_DIR, ignore_errors=True)

_calls = itertools.count()


def scratch_dir(leaf: str) -> str:
    """A directory path under ``PROC_DIR`` that no other call in this
    process gets; ``leaf`` names it for plans and listings."""
    return f"{PROC_DIR}/{leaf}_{next(_calls)}"


class LoopState:
    """One call's loop state: named tables, optionally split into round
    generations ``<name>/round_id=<r>``."""

    def __init__(self, spark: SparkSession, leaf: str):
        self.spark = spark
        self.root = scratch_dir(leaf)

    def path(self, name: str, r: int | None = None) -> str:
        base = f"{self.root}/{name}"
        return base if r is None else f"{base}/round_id={r}"

    def put(self, df: DataFrame, name: str, r: int | None = None) -> DataFrame:
        """Write ``df`` (as generation ``r`` of ``name`` when given) and
        return it read back: the write is the lineage cut, so later
        consumers scan parquet instead of re-running the plan. The read
        takes ``df``'s schema, which skips the schema-inference job and
        reads an empty generation too."""
        out = self.path(name, r)
        df.write.parquet(out)
        return self.spark.read.schema(df.schema).parquet(out)

    def upto(self, name: str, r: int, schema) -> DataFrame:
        """Union of generations 0..r as one multi-path scan, read with
        ``schema`` so the union's columns do not depend on what any one
        generation holds (a round whose rows all drop writes an empty
        generation); an empty frame of ``schema`` when ``r < 0``."""
        if r < 0:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[self.path(name, g) for g in range(r + 1)]
        )

    def all(self, name: str) -> DataFrame:
        """Every generation of ``name``, partition-discovered, with the
        round as an int ``round_id`` column."""
        return self.spark.read.parquet(self.path(name)).withColumn(
            "round_id", F.col("round_id").cast("int")
        )
