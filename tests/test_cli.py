"""CLI entry point (SURVEY §3 entry points 1/2): config validation
mirrors the reference's Config (charlotte/__init__.py:123-153); test
mode prints u2fast-shaped lines and exits cleanly."""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest

from charlotte_spark.cli import (
    ConfigError,
    drain,
    load_config,
    main,
    run,
    star_sink,
    validate_snortdb,
)
from charlotte_spark.queries.charlotte_pipeline import _star_summary, u2_fixture
from charlotte_spark.sources.unified2 import write_spool
from charlotte_spark.streaming.snorby import SnorbyDB


def _write_conf(tmp_path, overrides=None, drop=None):
    fx = u2_fixture()
    conf = {
        "spools": {
            name: {"directories": cfg["directories"], "filename": cfg["prefix"]}
            for name, cfg in fx["spools"].items()
        },
        "global": fx["global"],
        "plugin_snorby_parquet": {"path": str(tmp_path / "star")},
    }
    for k, v in (overrides or {}).items():
        conf[k] = v
    for path in drop or []:
        node = conf
        for k in path[:-1]:
            node = node[k]
        del node[path[-1]]
    p = tmp_path / "charlotte.conf"
    p.write_text(json.dumps(conf))
    return str(p)


def test_config_validation_mirrors_reference(tmp_path):
    # happy path: filename is accepted and mapped to prefix
    cfg = load_config(_write_conf(tmp_path))
    for spool in cfg["spools"].values():
        assert spool["prefix"] == "snort.u2"

    with pytest.raises(ConfigError, match="No global section"):
        load_config(_write_conf(tmp_path, drop=[["global"]]))
    with pytest.raises(ConfigError, match="generator_map"):
        load_config(_write_conf(tmp_path, drop=[["global", "generator_map"]]))
    with pytest.raises(ConfigError, match="No spool section"):
        load_config(_write_conf(tmp_path, drop=[["spools"]]))
    with pytest.raises(ConfigError, match="No spools defined"):
        load_config(_write_conf(tmp_path, overrides={"spools": {}}))
    with pytest.raises(ConfigError, match="directories"):
        load_config(
            _write_conf(tmp_path, overrides={"spools": {"x": {"filename": "f"}}})
        )
    with pytest.raises(ConfigError, match="Unable to read config file"):
        load_config(str(tmp_path / "missing.conf"))
    with pytest.raises(ConfigError, match="Key server not in DB config"):
        validate_snortdb({"plugin_snortdb": {"user": "u", "password": "p", "db": "d"}})


def test_main_rejects_bad_config(tmp_path, capsys):
    bad = _write_conf(tmp_path, drop=[["global", "signature_map"]])
    assert main([bad, "test"]) == 1
    assert "ERROR:" in capsys.readouterr().err
    assert main([]) == 1


def test_cli_test_mode_prints_u2fast_lines(spark, tmp_path, capsys):
    """`python -m charlotte_spark <conf> test` analog: drains the spool
    and prints one u2fast-shaped line per (alert, packet) row."""
    conf = load_config(_write_conf(tmp_path))
    ckpt = str(tmp_path / "ckpt")
    conf["global"]["checkpoint_dir"] = ckpt
    rc = run(conf, test_mode=True, follow=False, spark=spark)
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    # 270 (alert, packet) rows across both sensors (golden-test count)
    assert len(out) == 270
    pat = re.compile(
        r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2} \{(TCP|UDP|ICMP|-)\} "
        r"\[\d+:\d+:\d+\] .+ \[Classification: .+\] \[Priority: \d+\] .+ -> .+$"
    )
    assert all(pat.match(l) for l in out), out[:3]
    # ipv6 events surface their event-record addresses in the line
    assert any("2001:db8::" in l for l in out)


def test_cli_db_mode_writes_star(spark, tmp_path):
    """Default (non-test) mode: pipeline into the parquet snorby star."""
    conf = load_config(_write_conf(tmp_path))
    conf["global"]["checkpoint_dir"] = str(tmp_path / "ckpt_db")
    rc = run(conf, test_mode=False, follow=False, spark=spark)
    assert rc == 0
    star = conf["plugin_snorby_parquet"]["path"]
    n = spark.read.parquet(os.path.join(star, "event")).count()
    assert n == 270


def _shared_parent_spools(parent):
    """A config in the evolution-safe layout: <parent>/<sensor_name>/
    with one common prefix (VERDICT r10 #7)."""
    write_spool(f"{parent}/sensor_a", n_files=2, events_per_file=10, sensor_id=1)
    write_spool(
        f"{parent}/sensor_b", n_files=1, events_per_file=10, sensor_id=2,
        base_second=1_700_100_000,
    )
    return {
        "sensor_a": {"directories": [f"{parent}/sensor_a"], "prefix": "snort.u2"},
        "sensor_b": {"directories": [f"{parent}/sensor_b"], "prefix": "snort.u2"},
    }


def test_shared_parent_config_gets_single_source_plan(spark, tmp_path):
    """Evolution-safe default (VERDICT r10 #7): a shared-parent config
    must compile to ONE streaming source over the parent glob — no
    per-directory union (which can never grow across a checkpoint
    restart) — with sensor identity derived from the subdirectory."""
    from charlotte_spark.sources.u2_spark import read_spools, shared_parent_layout

    parent = str(tmp_path / "spools")
    spools = _shared_parent_spools(parent)
    assert shared_parent_layout(spools) == (parent, "snort.u2")

    stream = read_spools(spark, spools, streaming=True)
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert plan.count("StreamingRelation") == 1, "must be ONE source"
    assert "Union" not in plan, "per-directory union is not evolution-safe"

    # batch side mirrors the shape; identity comes from the path
    counts = {
        r["sensor_name"]: r["n"]
        for r in read_spools(spark, spools, streaming=False)
        .groupBy("sensor_name")
        .agg(__import__("pyspark").sql.functions.count("*").alias("n"))
        .collect()
    }
    assert set(counts) == {"sensor_a", "sensor_b"}
    assert counts["sensor_a"] > counts["sensor_b"] > 0


def test_non_shared_config_unions_and_warns(spark):
    """A config whose directory names don't carry the sensor identity
    keeps the literal R4 union shape, and a streaming caller is warned
    that day-2 spool growth needs a new checkpoint. The default
    fixture is shared-parent-shaped since r13 (VERDICT r12 #6), so the
    legacy shape under test is its ``spools_legacy`` view (same files,
    config names that don't match the directory basenames) — and the
    default shape must NOT warn."""
    import warnings

    from charlotte_spark.sources.u2_spark import read_spools, shared_parent_layout

    fx = u2_fixture()
    assert shared_parent_layout(fx["spools_legacy"]) is None
    with pytest.warns(UserWarning, match="NEW checkpoint"):
        stream = read_spools(spark, fx["spools_legacy"], streaming=True)
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert plan.count("StreamingRelation") == 2

    # the engine's own default fixture takes the evolution-safe path
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        clean = read_spools(spark, fx["spools"], streaming=True)
    assert clean._jdf.queryExecution().analyzed().toString().count(
        "StreamingRelation"
    ) == 1


def test_cli_day2_sensor_growth_same_checkpoint(spark, tmp_path):
    """End-to-end through the CLI: run the pipeline on a shared-parent
    config, then a NEW sensor directory appears (not in the config —
    mkdir + first rollover is the whole day-2 change), and the SAME
    run definition resumes from the SAME checkpoint: the new sensor's
    events land, already-applied sensors don't reprocess."""
    parent = str(tmp_path / "spools")
    conf = {
        "spools": _shared_parent_spools(parent),
        # the fixture only for its map files
        "global": {**u2_fixture()["global"], "checkpoint_dir": str(tmp_path / "ckpt")},
        "plugin_snorby_parquet": {"path": str(tmp_path / "star")},
    }
    star = conf["plugin_snorby_parquet"]["path"]

    assert run(conf, test_mode=False, follow=False, spark=spark) == 0
    day1 = _per_sensor_events(spark, star)
    assert set(day1) == {"sensor_a", "sensor_b"} and all(day1.values())

    write_spool(
        f"{parent}/sensor_c", n_files=1, events_per_file=10, sensor_id=3,
        base_second=1_700_200_000,
    )
    assert run(conf, test_mode=False, follow=False, spark=spark) == 0
    day2 = _per_sensor_events(spark, star)
    assert set(day2) == {"sensor_a", "sensor_b", "sensor_c"}
    assert day2["sensor_c"] > 0, "day-2 sensor must flow in"
    # nothing replayed for the already-applied sensors
    assert day2["sensor_a"] == day1["sensor_a"]
    assert day2["sensor_b"] == day1["sensor_b"]


def test_cli_default_checkpoint_follows_the_star(spark, tmp_path):
    """Without ``checkpoint_dir`` a sink run's default checkpoint is
    keyed on the star it writes, not on the whole config: adding a
    day-2 sensor to both the spool parent and the config resumes the
    same stream, and the new sensor's events land. Keyed on the config,
    the edit started a second checkpoint whose batch ids restart at 0,
    so the star's applied-batch ledger skipped every batch of the new
    stream and the run still exited 0."""
    from charlotte_spark.cli import _default_checkpoint

    parent = str(tmp_path / "spools")
    conf = {
        "spools": _shared_parent_spools(parent),
        "global": u2_fixture()["global"],
        "plugin_snorby_parquet": {"path": str(tmp_path / "star")},
    }
    star = conf["plugin_snorby_parquet"]["path"]
    try:
        assert run(conf, test_mode=False, follow=False, spark=spark) == 0
        day1 = _per_sensor_events(spark, star)
        assert set(day1) == {"sensor_a", "sensor_b"}

        write_spool(
            f"{parent}/sensor_c", n_files=1, events_per_file=10, sensor_id=3,
            base_second=1_700_200_000,
        )
        conf["spools"]["sensor_c"] = {
            "directories": [f"{parent}/sensor_c"], "prefix": "snort.u2",
        }
        assert run(conf, test_mode=False, follow=False, spark=spark) == 0
        day2 = _per_sensor_events(spark, star)
        assert day2 == {**day1, "sensor_c": day2.get("sensor_c", 0)}
        assert day2["sensor_c"] > 0, "the edited config's new sensor must land"
    finally:
        shutil.rmtree(_default_checkpoint(conf, test_mode=False), ignore_errors=True)


def _per_sensor_events(spark, star):
    ev = spark.read.parquet(os.path.join(star, "event"))
    se = spark.read.parquet(os.path.join(star, "sensor"))
    rows = ev.join(se, "sid").groupBy("hostname").count().collect()
    return {r["hostname"]: r["count"] for r in rows}


def test_maps_reload_every_micro_batch(spark, tmp_path):
    """R15: the three maps are re-read for every micro-batch. Streaming
    one spool file per trigger over copies of the map files, a
    signature message rewritten after batch 0 names the later batches'
    events, while batch 0's events keep the message they landed with."""
    fx = u2_fixture()
    maps = {}
    for key, path in fx["global"].items():
        maps[key] = str(tmp_path / os.path.basename(path))
        shutil.copy(path, maps[key])
    db = SnorbyDB(spark, str(tmp_path / "star"))
    sink = star_sink(spark, maps, db)
    batch0 = []

    def body(batch_df, batch_id):
        sink(batch_df, batch_id)
        if batch_id == 0:
            batch0.extend(_star_summary(spark, db).collect())
            with open(maps["signature_map"]) as f:
                text = f.read()
            with open(maps["signature_map"], "w") as f:
                f.write(text.replace("|| Known Signature 1\n", "|| Edited Signature 1\n"))

    drain(spark, fx["spools"], body, str(tmp_path / "ckpt"), max_files_per_trigger=1)

    first = {(r["hostname"], r["cid"]) for r in batch0}
    star = _star_summary(spark, db).collect()
    assert len(first) < len(star), "the fixture must stream more than one batch"
    assert [r for r in star if (r["hostname"], r["cid"]) in first] == batch0
    old = {r["sig_name"] for r in batch0}
    later = {r["sig_name"] for r in star if (r["hostname"], r["cid"]) not in first}
    assert "Known Signature 1" in old and "Edited Signature 1" not in old
    assert "Edited Signature 1" in later and "Known Signature 1" not in later


def _drain_conf(tmp_path, tag, n_files):
    """A shared-parent backlog of ``n_files`` small spool files over two
    sensors, each file's mtime its rollover epoch (the admission order),
    plus a cli config that drains it into its own star."""
    parent = str(tmp_path / tag / "spools")
    n_a = (n_files + 1) // 2
    for sid, name, n, base in ((1, "sensor_a", n_a, 1_700_000_000),
                               (2, "sensor_b", n_files - n_a, 1_700_100_000)):
        write_spool(f"{parent}/{name}", n_files=n, events_per_file=6,
                    sensor_id=sid, base_second=base)
    return {
        "spools": {s: {"directories": [f"{parent}/{s}"], "prefix": "snort.u2"}
                   for s in ("sensor_a", "sensor_b")},
        # the fixture only for its map files
        "global": {**u2_fixture()["global"], "checkpoint_dir": str(tmp_path / tag / "ckpt")},
        "plugin_snorby_parquet": {"path": str(tmp_path / tag / "star")},
    }


def _markers(star):
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(star, "_batches")).num_rows


@pytest.fixture(scope="module")
def slot_drains(spark, tmp_path_factory):
    """cli drains of one and of one-more-than task slots' worth of files."""
    tmp = tmp_path_factory.mktemp("slot_drains")
    slots = spark.sparkContext.defaultParallelism
    confs = {n: _drain_conf(tmp, f"n{n}", n) for n in (slots, slots + 1)}
    for conf in confs.values():
        assert run(conf, test_mode=False, follow=False, spark=spark) == 0
    return confs


def test_cli_drain_admits_one_file_per_task_slot(spark, slot_drains):
    """Each trigger admits one file per task slot: a backlog of
    ``defaultParallelism`` files commits as ONE micro-batch, one more
    file makes two, and both stars hold every row once, under dense
    per-sensor cids."""
    from charlotte_spark.sources.u2_spark import read_spools

    slots = spark.sparkContext.defaultParallelism
    for n, conf in slot_drains.items():
        star = conf["plugin_snorby_parquet"]["path"]
        assert _markers(star) == (1 if n == slots else 2), n
        expected = {
            r["sensor_name"]: r["count"]
            for r in read_spools(spark, conf["spools"]).groupBy("sensor_name").count().collect()
        }
        cids: dict[str, list[int]] = {}
        for r in _star_summary(spark, SnorbyDB(spark, star)).collect():
            cids.setdefault(r["hostname"], []).append(r["cid"])
        assert {h: len(c) for h, c in cids.items()} == expected, n
        for h, c in cids.items():
            assert sorted(c) == list(range(1, len(c) + 1)), (n, h)


def test_explicit_max_files_per_trigger_overrides_default(spark, slot_drains, tmp_path):
    """An explicit cap still wins over the task-slot default: one file
    per trigger commits one marker per file, into the same star the
    default drain built."""
    n, conf = max(slot_drains.items())
    db = SnorbyDB(spark, str(tmp_path / "star_one_per_trigger"))
    drain(spark, conf["spools"], star_sink(spark, conf["global"], db),
          str(tmp_path / "ckpt"), max_files_per_trigger=1)
    assert _markers(db.path) == n
    default_star = SnorbyDB(spark, conf["plugin_snorby_parquet"]["path"])
    assert _star_summary(spark, db).collect() == _star_summary(spark, default_star).collect()


def test_reference_conf_example_loads_unchanged():
    """Drop-in parity: the reference repo's OWN charlotte.conf.example
    must load and validate byte-for-byte unchanged — a reference user
    points this engine at their existing config file. Covers the
    'filename' spool key (our reader takes 'prefix'), multi-directory
    spools, the three global maps, and the snortdb plugin block."""
    import os

    import pytest

    from charlotte_spark.cli import load_config, validate_snortdb

    path = "/root/reference/charlotte.conf.example"
    if not os.path.exists(path):
        pytest.skip("reference checkout not present")
    cfg = load_config(path)
    assert set(cfg["spools"]) == {"example1", "example2"}
    assert cfg["spools"]["example2"]["directories"] == [
        "/unified/example2/1",
        "/unified/example2/2",
    ]
    # reference 'filename' key mapped onto our reader's 'prefix'
    assert cfg["spools"]["example1"]["prefix"] == "snort.log"
    assert cfg["global"]["signature_map"].endswith("sid-msg.map")
    db = validate_snortdb(cfg)
    assert db["db"] == "charlotte" and db["server"] == "localhost"
