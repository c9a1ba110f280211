"""The main correctness gate: every registered query vs its DuckDB oracle.

Parametrized over the full registry, so adding a query to any module in
charlotte_spark/queries/ automatically adds its oracle test here —
identical in spirit to the driver's CORRECTNESS_r{N}.json run.
"""

from __future__ import annotations

import pytest

from charlotte_spark.registry import load_all_queries

from .conftest import assert_oracle_match

REGISTRY = load_all_queries()
HASH_CHECKED = [q for q in REGISTRY.values() if q.oracle]
ROWS_ONLY = [q for q in REGISTRY.values() if q.oracle is None]


@pytest.mark.parametrize("q", HASH_CHECKED, ids=lambda q: q.name)
def test_hash_checked(q, spark, duck, sf_dir):
    # A-row (approximate) queries are hash-checked too: each carries its
    # error bound INSIDE the query output (a within_bound flag or a
    # rounded bounded-error column), so hash equality is the contract.
    assert_oracle_match(q.fn(spark, sf_dir), duck, q.oracle, q.name)


def test_every_query_has_an_oracle():
    """Since round 7 EVERY registered query carries an oracle: pure
    SQL where expressible, round-trip digests (queries/roundtrip.py)
    where the input is non-SQL-recomputable, a literal invariant for
    the listener-outcome query. A new rows-only query would silently
    weaken the driver gate — make it a conscious decision by updating
    this test alongside it."""
    assert not ROWS_ONLY, [q.name for q in ROWS_ONLY]


def test_decimal_output_fails_locally(spark, duck):
    """Round-1 regression guard: the local harness must be at least as
    strict as the driver's hash — a Spark DECIMAL output vs a DOUBLE
    oracle is a representation mismatch even when numerically equal
    (it cost us d27 in round 1 while the old canon() coerced
    Decimal→float and passed)."""
    import pytest

    df = spark.sql("SELECT CAST(1.5 AS DECIMAL(5,2)) AS x")
    with pytest.raises(AssertionError, match="value mismatch"):
        assert_oracle_match(df, duck, "SELECT CAST(1.5 AS DOUBLE) AS x", "decimal_guard")


def test_int_vs_float_output_fails_locally(spark, duck):
    """Round-3 regression guard (d46): the driver's hash distinguishes an
    int64 1234 from a float64 1234.0 (Spark floor() is BIGINT, DuckDB
    floor() is DOUBLE). Python's 1234 == 1234.0 hid this locally until
    canon() started tagging numeric types."""
    import pytest

    df = spark.sql("SELECT CAST(1234 AS BIGINT) AS x")
    with pytest.raises(AssertionError, match="value mismatch"):
        assert_oracle_match(df, duck, "SELECT CAST(1234 AS DOUBLE) AS x", "intfloat_guard")


def test_array_output_fails_locally(spark, duck):
    """Round-3 regression guard (d75): a top-level array output column is
    unhashable in the driver's pandas canonicalizer (sort_values crash).
    The local harness must reject it before the driver sees it."""
    import pytest

    df = spark.sql("SELECT array(1, 2) AS x")
    with pytest.raises(AssertionError, match="array/map"):
        assert_oracle_match(df, duck, "SELECT [1, 2] AS x", "array_guard")


@pytest.mark.parametrize(
    "q", [q for q in REGISTRY.values() if q.oracle], ids=lambda q: q.name
)
def test_oracle_output_types_are_portable(q, duck):
    """No oracle may emit HUGEINT or DECIMAL output columns.

    DuckDB types sum(INTEGER) / count-style CASE sums as HUGEINT and
    bare numeric literals as DECIMAL; the driver's canon hash treats
    those representations as distinct from Spark's BIGINT/DOUBLE even
    when numerically equal — the exact failure mode of r01's d27 and
    r02's q12 (VERDICT.md, What's wrong #1/#2). Every integer aggregate
    must be CAST(... AS BIGINT) and every float expression kept DOUBLE.
    """
    types = [str(t) for t in duck.sql(q.oracle).types]
    offenders = [
        (c, t)
        for c, t in zip(duck.sql(q.oracle).columns, types)
        if "HUGEINT" in t or "DECIMAL" in t
    ]
    assert not offenders, (
        f"{q.name}: non-portable oracle output types {offenders}; "
        "CAST integer sums to BIGINT and decimals to DOUBLE"
    )


def test_spark_entry_oracle_keys_name_queries():
    """Every ``oracle_sql()`` key of the driver contract names a query
    that ``queries()`` exposes."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        pathlib.Path(__file__).resolve().parent.parent / "__spark_entry__.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert set(mod.oracle_sql()) <= set(mod.queries())


def test_survey_rows_and_registry_tags_agree():
    """SURVEY.md §2 is the correctness contract the judge walks line by
    line: every R/D/A row id in the §2 tables must be claimed by at
    least one registered query's tags, and every tag a query declares
    must name a row that exists in SURVEY.md — so the inventory and the
    implementation cannot drift apart silently."""
    import pathlib
    import re

    survey = (pathlib.Path(__file__).resolve().parent.parent / "SURVEY.md").read_text()
    row_ids = set()
    for line in survey.splitlines():
        m = re.match(r"\|\s*([RDA]\d+)\s*\|", line)
        if m:
            row_ids.add(m.group(1))
    assert len(row_ids) > 150, f"SURVEY table parse looks broken: {len(row_ids)} rows"

    tagged = set()
    for q in REGISTRY.values():
        tagged.update(q.tags)

    unclaimed = sorted(r for r in row_ids if r not in tagged)
    assert not unclaimed, f"SURVEY rows with no registered query: {unclaimed}"
    dangling = sorted(t for t in tagged if t not in row_ids)
    assert not dangling, f"query tags naming no SURVEY row: {dangling}"
