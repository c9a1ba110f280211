"""Session helpers: the JVM-built small frames (``local_df``) and the
concurrent-job join (``join_futures``)."""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql.types import StructType

from charlotte_spark.session import join_futures, local_df


def test_local_df_round_trips_call_site_types(spark):
    """Every type the call sites use comes back as declared, None
    included, and the frame is a JVM local relation (no Python RDD to
    scan)."""
    ddl = "i int, b bigint, l long, d double, s string"
    rows = [(1, 2**40, -3, 0.5, "x"), (None, None, None, None, None), (-7, 0, 2**62, 1e8, "")]
    df = local_df(spark, rows, ddl)
    assert df.dtypes == [
        ("i", "int"), ("b", "bigint"), ("l", "bigint"), ("d", "double"), ("s", "string"),
    ]
    assert sorted(map(tuple, df.collect()), key=repr) == sorted(rows, key=repr)
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "ddl", ["batch_id long", "sid int, cid bigint, signature int, timestamp timestamp"]
)
def test_local_df_empty_rows_keep_schema(spark, ddl):
    for rows in ([], None):
        df = local_df(spark, rows, ddl)
        assert df.count() == 0
        assert df.schema == StructType.fromDDL(ddl)


def test_join_futures_raises_earliest_submitted_failure():
    """When several futures have failed by the time the join looks, the
    exception raised is the first-submitted one's, whatever order they
    failed in."""
    n = 16
    gates = [threading.Event() for _ in range(n)]

    def fail(i):
        gates[i].wait()
        raise ValueError(i)

    with ThreadPoolExecutor(max_workers=n) as pool:
        futs = [pool.submit(fail, i) for i in range(n)]
        for g in reversed(gates):  # the last-submitted fails first
            g.set()
        for f in futs:
            f.exception()
        with pytest.raises(ValueError) as e:
            join_futures(futs)
    assert e.value.args == (0,)


def test_join_futures_returns_when_all_succeed():
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(lambda: None) for _ in range(3)]
        join_futures(futs)
    assert all(f.done() and f.exception() is None for f in futs)
