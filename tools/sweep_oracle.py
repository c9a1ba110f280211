"""Oracle sweep at an arbitrary SF — the driver checks sf0.01; this
re-runs the identical Spark-vs-DuckDB compare at another scale to
catch data-dependent divergences the small SF never exercises
(found d48's empty-list rendering bug: Spark array_join([]) = '' vs
DuckDB array_to_string([]) = NULL, first hit at sf0.1).

Usage: python tools/sweep_oracle.py [sf_dir] [cpus]
Default /root/testdata/sf0.1 on local[16]. Prints per-query MISMATCH
lines and one TOTAL line; exit code 1 on any mismatch/error.
"""

from __future__ import annotations

import datetime
import decimal
import importlib.util
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def main(sf_dir: str, cpus: str) -> int:
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, osql = mod.queries(), mod.oracle_sql()
    subset = {
        n.strip() for n in os.environ.get("SWEEP_QUERIES", "").split(",") if n.strip()
    }
    ok = bad = err = 0
    for name, fn in qs.items():
        if name not in osql:
            continue
        if subset and name not in subset:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = sorted(
                [tuple(canon(r[c]) for c in scols) for r in sdf.collect()], key=repr
            )
            cur = con.execute(osql[name])
            cols0 = [d[0] for d in cur.description]
            idx = [cols0.index(c) for c in sorted(cols0)]
            drows = sorted(
                [tuple(canon(r[i]) for i in idx) for r in cur.fetchall()], key=repr
            )
            m = (scols == sorted(cols0)) and srows == drows
            ok += m
            bad += not m
            if not m:
                print(f"MISMATCH {name}: spark={len(srows)} duck={len(drows)}")
        except Exception as e:  # noqa: BLE001 — report and continue the sweep
            err += 1
            print(f"ERROR {name}: {str(e).splitlines()[0][:140]}")
    print(f"TOTAL: {ok} match, {bad} mismatch, {err} error ({sf_dir})")
    return 1 if (bad or err) else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = sys.argv[2] if len(sys.argv) > 2 else "16"
    raise SystemExit(main(sf, cpus))
