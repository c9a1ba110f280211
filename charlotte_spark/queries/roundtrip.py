"""Round-trip digest harness for queries whose inputs SQL cannot
recompute (unified2 spools, Python-side stub codecs).

The D136/D149 oracle pattern recomputes the expected answer in DuckDB
from the driver's source tables. That is impossible when the input is
a binary spool or a mapInPandas decode — so these queries materialize
their row-level output to parquet, fold it to per-group md5 digests in
Spark, and register an oracle that independently folds the SAME
parquet with DuckDB's own md5/string_agg pipeline. Two engines
aggregating the same materialized rows means a nondeterministic
pipeline, a parquet type-mapping bug, or a digest-fold bug all surface
as a driver hash mismatch — hash-grade evidence instead of a rows-only
count. The row-level SEMANTICS are still covered by the golden tests
(tests/test_charlotte.py, tests/test_multimodal.py), which compare
against straight-line reimplementations of the reference
(/root/reference/charlotte/__init__.py:463-538).

Scale note: the materialization is one map-only parquet write of the
query's own output (no extra shuffle), and the digest fold is the
shared TWO-LEVEL bucketed fold (functions/digest.py): level 1 keyed by
(group, payload-bucket) so no single buffer ever holds a corpus-scale
group's payloads, level 2 over <= B bounded sub-digests per group —
the same cost class as returning the rows, safe at any group size.

The digest parquet lives under the process's scratch directory
(operators/loopstate.py), so a concurrent sweep in another interpreter
cannot overwrite it between the Spark fold and the DuckDB fold. Both
folds of one comparison run in one interpreter (the driver imports
``__spark_entry__`` and runs query + oracle side by side), so the
import-time path is consistent where it must be. Each ``rt_digest``
call writes a fresh directory and repoints ``rt_path(name)`` at it: the
oracle folds the latest call's rows, and a frame returned by an earlier
call keeps reading its own.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.digest import sql_two_level_digest, two_level_digest
from ..operators.loopstate import PROC_DIR, scratch_dir

RT_DIR = f"{PROC_DIR}/rt"


def rt_path(name: str) -> str:
    return f"{RT_DIR}/rt_{name}"


def rt_oracle(name: str, group_col: str) -> str:
    """DuckDB side: fold the Spark-written parquet with DuckDB's OWN
    md5/string_agg two-level bucketed pipeline."""
    return sql_two_level_digest(
        f"read_parquet('{rt_path(name)}/*.parquet')",
        [group_col],
        "payload",
        count_alias="n_rows",
        digest_alias="digest",
    )


def rt_digest(df: DataFrame, name: str, group_col: str) -> DataFrame:
    """Spark side: materialize the row-level frame (columns:
    ``group_col`` + ``payload`` string) to parquet, read it back, and
    fold to (group, n_rows, two-level payload digest) — the counterpart
    of ``rt_oracle(name, group_col)``."""
    out = scratch_dir(f"rt_{name}")
    df.write.parquet(out)
    back = df.sparkSession.read.parquet(out)
    # atomic repoint: the oracle never sees a half-written directory
    link = rt_path(name)
    os.makedirs(RT_DIR, exist_ok=True)
    os.symlink(out, f"{link}.new")
    os.replace(f"{link}.new", link)
    return two_level_digest(
        back,
        [group_col],
        F.col("payload"),
        count_alias="n_rows",
        digest_alias="digest",
    )
