"""CLI entry point — the analog of the reference's ``charlotte <conf>
[test]`` daemon script (/root/reference/scripts/charlotte:16-52).

Usage::

    python -m charlotte_spark CONFIG.json [test] [follow]

* ``test`` — print each enriched alert as a u2fast-shaped text line to
  stdout instead of writing the snorby star (the reference's TextOutput,
  charlotte/__init__.py:284-337).
* default — run the full pipeline into the configured sink: a parquet
  snorby star (``plugin_snorby_parquet.path``, this engine's native
  form) or a JDBC snortdb endpoint (``plugin_snortdb`` — the reference's
  MySQL surface, charlotte/__init__.py:342-360; requires a reachable
  server + driver jar, so it is env-dependent).
* ``follow`` — keep tailing the spools (continuous trigger, the daemon
  mode). Without it the run drains everything currently in the spools
  (``availableNow``) and exits cleanly — our stand-in for the
  reference's ``test``-mode foreground run; daemonization itself is the
  cluster scheduler's job (spark-submit / YARN / k8s), not the
  driver's, so there is no fork+pidfile dance here.

Config validation mirrors ``Config`` (charlotte/__init__.py:123-153)
check-for-check, including accepting the reference's ``filename`` key
for the spool glob prefix.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import get_spark
from .sources.u2_spark import read_spools
from .streaming.maps import load_maps
from .streaming.snorby import SnorbyDB, apply_batch, enrich


class ConfigError(Exception):
    """Analog of CharlotteConfigError (charlotte/__init__.py:96-99)."""


def load_config(path: str) -> dict:
    """Read + validate a charlotte config file (same checks, same
    messages-in-spirit as charlotte/__init__.py:123-153)."""
    try:
        with open(path) as f:
            config = json.load(f)
    except Exception as e:  # noqa: BLE001 — mirror the reference's catch-all
        raise ConfigError(f"Unable to read config file: {e}") from e

    if "global" not in config:
        raise ConfigError("No global section in config")
    for option in ("signature_map", "generator_map", "classification_map"):
        if option not in config["global"]:
            raise ConfigError(f"Required section {option} not in global config, exiting")

    if "spools" not in config:
        raise ConfigError("No spool section, nothing to process")
    if not config["spools"]:
        raise ConfigError("No spools defined, nothing to do")
    for spool_name, spool in config["spools"].items():
        if "directories" not in spool:
            raise ConfigError(f"Required section directories not in config {spool_name}")
        if "filename" not in spool and "prefix" not in spool:
            raise ConfigError(f"Required section filename not in config {spool_name}")
        # reference key is "filename"; read_spools takes "prefix"
        spool.setdefault("prefix", spool.get("filename", ""))
    return config


def validate_snortdb(config: dict) -> dict:
    """Mirror DatabaseOutput's required-key check (charlotte/__init__.py:346-350)."""
    db = config.get("plugin_snortdb", {})
    for key in ("server", "user", "password", "db"):
        if key not in db:
            raise ConfigError(f"Key {key} not in DB config")
    return db


def u2fast_line(proto_col=None):
    """Column expression producing the u2fast-shaped alert line the
    reference's TextOutput prints (charlotte/__init__.py:284-337 via
    idstools u2fast). Expects the enriched-alert column set."""
    proto = proto_col if proto_col is not None else (
        F.when(F.col("tcp_sport").isNotNull(), "tcp")
        .when(F.col("udp_sport").isNotNull(), "udp")
        .when(F.col("icmp_type").isNotNull(), "icmp")
        .otherwise("-")
    )
    return F.format_string(
        "%s {%s} [%d:%d:%d] %s [Classification: %s] [Priority: %d] %s -> %s",
        F.from_unixtime("event_second"),
        F.upper(proto),
        "generator_id",
        "signature_id",
        "sig_rev",
        "sig_msg",
        "class_name",
        "sig_priority",
        F.coalesce("ip_src", F.col("event_ip_src")),
        F.coalesce("ip_dst", F.col("event_ip_dst")),
    )


def enriched(spark: SparkSession, maps: dict, alerts: DataFrame) -> DataFrame:
    """R15: re-read the three map files named in ``maps`` (the config's
    ``global`` section), then enrich ``alerts``. Called once per
    micro-batch, so an edited map applies from the next batch on."""
    sig_map, class_map = load_maps(
        spark, maps["signature_map"], maps["generator_map"], maps["classification_map"]
    )
    return enrich(alerts, sig_map, class_map)


def star_sink(spark: SparkSession, maps: dict, db):
    """The foreachBatch body that upserts each enriched batch into the
    snorby star ``db``; a batch run is this body called once as batch 0."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        apply_batch(db, enriched(spark, maps, batch_df), batch_id)

    return body


def drain(
    spark: SparkSession,
    spools: dict,
    body,
    ckpt: str,
    max_files_per_trigger: int | None = None,
    follow: bool = False,
) -> None:
    """Stream ``spools`` through the foreachBatch ``body`` under the
    checkpoint ``ckpt``: drain what is there now (``availableNow``) and
    return, or with ``follow`` keep tailing until stopped."""
    alerts = read_spools(
        spark, spools, streaming=True, max_files_per_trigger=max_files_per_trigger
    )
    writer = alerts.writeStream.foreachBatch(body).option("checkpointLocation", ckpt)
    if not follow:
        writer = writer.trigger(availableNow=True)
    writer.start().awaitTermination()


def _default_checkpoint(config: dict, test_mode: bool) -> str:
    """The checkpoint a run uses when ``global.checkpoint_dir`` is unset.

    A sink run keys on its target star: the star's applied-batch ledger
    is keyed by batch id, so a second checkpoint over the same star would
    restart batch ids at 0 and have every batch skipped as already
    applied — editing the config (say, adding a sensor) must not switch
    checkpoints. Test mode writes no star and never consumes spool
    position (ADVICE r02), so it keys on the whole config."""
    if test_mode:
        target = json.dumps(config, sort_keys=True, default=str)
    elif "plugin_snorby_parquet" in config:
        target = os.path.abspath(config["plugin_snorby_parquet"]["path"])
    else:
        db = config["plugin_snortdb"]
        target = f"{db['server']}/{db['db']}"
    key = hashlib.md5(
        f"{target}|mode={'test' if test_mode else 'sink'}".encode()
    ).hexdigest()[:12]
    return f"/tmp/charlotte_cli_ckpt_{key}"


def run(config: dict, test_mode: bool, follow: bool, spark: SparkSession | None = None) -> int:
    spark = spark or get_spark("charlotte")
    maps = config["global"]

    if test_mode:
        # R22: formatted console lines instead of the star
        def body(batch_df: DataFrame, batch_id: int) -> None:
            lines = (
                enriched(spark, maps, batch_df)
                .select(
                    "sensor_name", "event_id",
                    F.coalesce("packet_pos", F.lit(-1)).alias("packet_pos"),
                    u2fast_line().alias("line"),
                )
                .orderBy("sensor_name", "event_id", "packet_pos")
                .collect()
            )
            for r in lines:
                print(r["line"])

    else:
        if "plugin_snorby_parquet" in config:
            db = SnorbyDB(spark, config["plugin_snorby_parquet"]["path"])
        else:
            dbcfg = validate_snortdb(config)
            from .sinks.jdbc import JdbcSnorbyDB

            db = JdbcSnorbyDB(
                spark,
                f"jdbc:mysql://{dbcfg['server']}/{dbcfg['db']}",
                {"user": dbcfg["user"], "password": dbcfg["password"]},
            )
        body = star_sink(spark, maps, db)

    ckpt = maps.get("checkpoint_dir") or _default_checkpoint(config, test_mode)
    drain(spark, config["spools"], body, ckpt, follow=follow)
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not argv:
        print("usage: python -m charlotte_spark CONFIG.json [test] [follow]", file=sys.stderr)
        return 1
    try:
        config = load_config(argv[0])
        test_mode = len(argv) > 1 and argv[1] == "test"
        follow = "follow" in argv[1:]
        if not test_mode and "plugin_snorby_parquet" not in config:
            validate_snortdb(config)  # fail fast, like DatabaseOutput's ctor
        return run(config, test_mode, follow)
    except ConfigError as e:
        print(f"ERROR: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    raise SystemExit(main())
