"""Engine scratch ownership (charlotte_spark/operators/loopstate.py):
fresh state per call, round generations, and one scratch setting."""

from __future__ import annotations

import importlib.util
import pathlib
import re
import sys

import pytest

from charlotte_spark.operators.loopstate import PROC_DIR, LoopState
from charlotte_spark.registry import load_all_queries

from .conftest import _spark_rows

ROOT = pathlib.Path(__file__).resolve().parent.parent
SF_SMOKE = "/root/testdata/sf0.001"

# Every query that writes per-call state it later reads back lazily.
STATEFUL = (
    "d181_lsh_arrival_loop",
    "d184_ann_index_arrival",
    "d187_curation_arrival_loop",
    "d192_layout_maintenance_loop",
    "d200_chunk_index_loop",
    "d215_semantic_dedup_arrival",
    "d97_pagerank",
    "d185_spool_evolution",
)


@pytest.mark.parametrize("name", STATEFUL)
def test_second_call_keeps_first_frame_readable(spark, name):
    """A second call in the same process must not overwrite the files a
    frame returned by the first call still reads."""
    fn = load_all_queries()[name].fn
    first = fn(spark, SF_SMOKE)
    second = fn(spark, SF_SMOKE)
    assert _spark_rows(first) == _spark_rows(second)


def test_upto_before_round_zero_is_empty(spark):
    ls = LoopState(spark, "unit")
    df = ls.upto("index", -1, "h string, n long")
    assert df.schema.simpleString() == "struct<h:string,n:bigint>"
    assert df.count() == 0


def test_generations_union_through_an_empty_one(spark):
    """A round whose rows all drop writes an empty generation; the
    pinned-schema union and the partition-discovered read both still
    see every other generation."""
    ls = LoopState(spark, "unit")
    gen0 = ls.put(spark.range(3), "index", 0)
    assert ls.put(spark.range(5).filter("id < 0"), "index", 1).count() == 0
    ls.put(spark.range(10, 12), "index", 2)
    assert sorted(r.id for r in ls.upto("index", 1, gen0.schema).collect()) == [0, 1, 2]
    assert ls.upto("index", 2, gen0.schema).count() == 5
    by_round = ls.all("index").groupBy("round_id").count()
    assert dict(by_round.collect()) == {0: 3, 2: 2}
    assert dict(ls.all("index").dtypes)["round_id"] == "int"


def test_each_call_gets_its_own_directory(spark):
    a, b = LoopState(spark, "unit"), LoopState(spark, "unit")
    assert a.root != b.root
    assert a.root.startswith(f"{PROC_DIR}/unit_")
    assert b.root.startswith(f"{PROC_DIR}/unit_")


def _perfbench_run():
    bench = ROOT / "perfbench"
    sys.path.insert(0, str(bench))
    try:
        spec = importlib.util.spec_from_file_location("perfbench_run", bench / "run.py")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path.remove(str(bench))
    return mod


def test_benchmark_redirects_every_scratch_setting(tmp_path):
    """The benchmark keeps engine scratch inside its run directory by
    redirecting every env var the engine reads a scratch path from; the
    engine reads exactly two, and no module reads another ``*_TMP``."""
    env = _perfbench_run().scratch_env(str(tmp_path))
    engine_vars = {k for k in env if k.startswith("CHARLOTTE_")}
    assert engine_vars == {"CHARLOTTE_TMP", "CHARLOTTE_CKPT_DIR"}
    for k in engine_vars:
        assert env[k].startswith(str(tmp_path))

    tmp_vars, calls, literal_calls = set(), 0, 0
    for p in (ROOT / "charlotte_spark").rglob("*.py"):
        src = p.read_text()
        tmp_vars.update(re.findall(r"['\"](\w+_TMP)['\"]", src))
        calls += len(re.findall(r"(?<!def )_scratch_root\(", src))
        literal_calls += len(re.findall(r"_scratch_root\(\s*['\"]\w+['\"]", src))
    assert tmp_vars == {"CHARLOTTE_TMP"}
    # a computed env name would escape the benchmark's redirection
    assert calls == literal_calls
