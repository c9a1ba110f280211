"""The snorby star report, its DuckDB twin, and the query-oracle compare.

The star report is what an analyst runs against the star: the top
signatures, alerts per sensor per hour, and the top source addresses
from ``iphdr``. Spark reads the tables through ``SnorbyDB.read``;
DuckDB reads the same parquet files, and the two answers must match.
"""

from __future__ import annotations

TABLES = ("event", "signature", "sensor", "iphdr")
TOP_N = 10

EVENT_SCHEMA = "sid int, cid bigint, signature int, timestamp timestamp"
IPHDR_SCHEMA = "sid int, cid bigint, ip_src bigint, ip_dst bigint"


def spark_report(db) -> dict:
    from pyspark.sql import functions as F

    from charlotte_spark.streaming.snorby import SENSOR_SCHEMA, SIGNATURE_SCHEMA

    ev = db.read("event", EVENT_SCHEMA)
    sig = db.read("signature", SIGNATURE_SCHEMA)
    sen = db.read("sensor", SENSOR_SCHEMA)
    ip = db.read("iphdr", IPHDR_SCHEMA)
    top_sigs = (
        ev.join(sig, ev["signature"] == sig["sig_id"])
        .groupBy("sig_gid", "sig_sid", "sig_name").count()
        .orderBy(F.desc("count"), "sig_gid", "sig_sid").limit(TOP_N).collect()
    )
    per_hour = (
        ev.join(sen, "sid")
        .groupBy("hostname", F.date_format("timestamp", "yyyy-MM-dd HH").alias("hour")).count()
        .orderBy("hostname", "hour").collect()
    )
    top_src = (
        ip.groupBy("ip_src").count().orderBy(F.desc("count"), "ip_src").limit(TOP_N).collect()
    )
    return {
        "top_signatures": [list(r) for r in top_sigs],
        "per_sensor_hour": [list(r) for r in per_hour],
        "top_src": [list(r) for r in top_src],
    }


def duck_report(star: str) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star}/{t}/*.parquet')")
        return {
            "top_signatures": [list(r) for r in con.execute(
                "SELECT sig_gid, sig_sid, sig_name, count(*) AS c FROM event "
                "JOIN signature ON event.signature = signature.sig_id "
                f"GROUP BY ALL ORDER BY c DESC, sig_gid, sig_sid LIMIT {TOP_N}").fetchall()],
            "per_sensor_hour": [list(r) for r in con.execute(
                "SELECT hostname, strftime(timestamp, '%Y-%m-%d %H') AS h, count(*) FROM event "
                "JOIN sensor USING (sid) GROUP BY ALL ORDER BY hostname, h").fetchall()],
            "top_src": [list(r) for r in con.execute(
                "SELECT ip_src, count(*) AS c FROM iphdr GROUP BY ALL "
                f"ORDER BY c DESC, ip_src LIMIT {TOP_N}").fetchall()],
        }
    finally:
        con.close()


# -- query oracles -------------------------------------------------------
# The compare is the one the repo's oracle tests make (tests/conftest.py):
# columns sorted by name, cells canonicalised by its ``canon``, rows
# compared order-insensitively.


def canon_rows(df) -> tuple[list[str], list]:
    from tests.conftest import _spark_rows

    cols, rows = _spark_rows(df)
    return cols, sorted(rows, key=repr)


def oracle_match(spark_rows: tuple[list[str], list], sql: str | None, data_dir: str):
    """(ok, reason): order-insensitive equality with the DuckDB oracle."""
    if sql is None:
        return True, "rows-only query"
    import duckdb

    from charlotte_spark.catalog import TABLE_NAMES
    from tests.conftest import _duck_rows

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        cols, rows = _duck_rows(con, sql)
    finally:
        con.close()
    if cols != spark_rows[0]:
        return False, f"columns spark={spark_rows[0]} duck={cols}"
    if sorted(rows, key=repr) != spark_rows[1]:
        return False, f"rows differ: spark={len(spark_rows[1])} duck={len(rows)}"
    return True, ""
