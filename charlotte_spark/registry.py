"""Query registry — the engine's declared, oracle-checked surface.

Every operator from SURVEY.md §2 registers here as a named query with
(a) a PySpark implementation ``fn(spark, sf_dir) -> DataFrame`` and
(b) the equivalent DuckDB SQL (or ``None`` for genuinely
non-SQL-expressible ops, which get a weaker rows-only check).

``__spark_entry__.py`` and the pytest oracle harness both iterate this
registry, so the local test gate is the driver's gate.

Determinism rules (SURVEY §2) enforced by convention in every entry:
- total-order ORDER BY over a unique key on both sides;
- float aggregates wrapped in round(x, 2) (or 4 for similarity scores);
- explicit NULLS FIRST/LAST everywhere a sort key is nullable;
- timestamps projected as 'yyyy-MM-dd HH:mm:ss' UTC strings;
- arrays in output joined to strings after array_sort;
- any hash used in query *logic* is a portable expression (md5-based),
  never an engine-native hash().
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL over views region..embeddings; None => rows-only
    tags: tuple[str, ...] = ()  # SURVEY §2 row ids, e.g. ("D24", "R20")
    # A-rows (approximate sketches) are hash-checked like everything
    # else: each carries its error bound inside the query output, so
    # no separate "approximate" grading knob exists (VERDICT r06 #6).


REGISTRY: dict[str, Query] = {}

# Modules that define queries; imported lazily by load_all_queries().
_QUERY_MODULES = (
    "charlotte_spark.queries.relational",
    "charlotte_spark.queries.composites",
    "charlotte_spark.queries.sources_sinks",
    "charlotte_spark.queries.joins",
    "charlotte_spark.queries.aggregates",
    "charlotte_spark.queries.windows",
    "charlotte_spark.queries.sortlimit",
    "charlotte_spark.queries.setops",
    "charlotte_spark.queries.scalar_funcs",
    "charlotte_spark.queries.udf_surface",
    "charlotte_spark.queries.dedup",
    "charlotte_spark.queries.similarity",
    "charlotte_spark.queries.textstats",
    "charlotte_spark.queries.multimodal",
    "charlotte_spark.queries.traindata",
    "charlotte_spark.queries.reshape",
    "charlotte_spark.queries.dataops",
    "charlotte_spark.queries.statsops",
    "charlotte_spark.queries.sketches",
    "charlotte_spark.queries.graph",
    "charlotte_spark.queries.eventanalytics",
    "charlotte_spark.queries.corpus_search",
    "charlotte_spark.queries.webcuration",
    "charlotte_spark.queries.streaming_queries",
    "charlotte_spark.queries.charlotte_pipeline",
)


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as a declared query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name, fn, oracle, tuple(tags))
        return fn

    return deco


def load_all_queries() -> dict[str, Query]:
    """Import every query module (idempotent) and return the registry in
    registration order."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return dict(REGISTRY)
