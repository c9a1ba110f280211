"""Golden-output test for the charlotte pipeline (SURVEY §5.2).

A straight-line, single-threaded Python reimplementation of the
reference's `_push_to_db` semantics (/root/reference/charlotte/
__init__.py:463-538) — enrichment defaults (:189, :202), per-packet cid
increments (:533), protocol dispatch (:484-527), lowercase hex payload
(:503), UTC timestamp strings (:468) — run over the same parsed alerts,
then compared table-by-table against the Spark pipeline's snorby star.
The reference's known defects (SURVEY §2.1) are intentionally excluded.
"""

from __future__ import annotations

import binascii
import datetime

import pytest

from charlotte_spark.queries.charlotte_pipeline import (
    _fresh_db,
    run_batch_pipeline,
    u2_fixture,
)
from charlotte_spark.sources.unified2 import decode_ethernet, parse_alerts


def _read_spool_files(fx):
    """(sensor_name, alert) pairs in filename order per spool — the same
    total input set the Spark pipeline reads."""
    import glob as _glob

    out = []
    for sensor, cfg in sorted(fx["spools"].items()):
        for d in cfg["directories"]:
            for path in sorted(_glob.glob(f"{d}/{cfg['prefix']}*")):
                with open(path, "rb") as f:
                    for alert in parse_alerts(f.read()):
                        out.append((sensor, alert))
    return out


def _load_maps_golden(fx):
    sig = {}
    maps = fx["global"]
    with open(maps["signature_map"]) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            parts = [p.strip() for p in line.split("||")]
            sig[(1, int(parts[0]))] = {
                "rev": 1, "classid": 0, "priority": 0, "msg": parts[1]
            }
    with open(maps["generator_map"]) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            parts = [p.strip() for p in line.split("||")]
            sig[(int(parts[0]), int(parts[1]))] = {
                "rev": 1, "classid": 0, "priority": 0, "msg": parts[2]
            }
    classes = {}
    cid = 0
    with open(maps["classification_map"]) as f:
        for line in f:
            if line.strip().startswith("config classification:"):
                cid += 1
                classes[cid] = line.split(":", 1)[1].split(",")[0].strip()
    return sig, classes


def golden_star(fx):
    """Reference semantics, straight-line: returns dict of table -> set
    of comparable row tuples."""
    alerts = _read_spool_files(fx)
    sigmap, classmap = _load_maps_golden(fx)

    hostnames = sorted({s for s, _ in alerts})
    sensor_id = {h: i + 1 for i, h in enumerate(hostnames)}

    # signature dim keyed by natural key, ids in (gid, sid, name) order
    # after dedup — matches the Spark pipeline's deterministic assignment
    enriched = []
    for sensor, a in alerts:
        info = sigmap.get(
            (a["generator_id"], a["signature_id"]),
            {
                "rev": 0,
                "classid": 0,
                "priority": 10,
                "msg": f"Unknown Alert {a['generator_id']}:{a['signature_id']}",
            },
        )
        rows = a["packets"] if a["packets"] else [None]
        for pos, frame in enumerate(rows):
            enriched.append(
                {
                    "sensor": sensor,
                    "sid": sensor_id[sensor],
                    "event_second": a["event_second"],
                    "event_id": a["event_id"],
                    "packet_pos": pos if frame is not None else None,
                    "frame": frame,
                    "gid": a["generator_id"],
                    "esid": a["signature_id"],
                    "classification_id": a["classification_id"],
                    "rev": info["rev"],
                    "classid": info["classid"],
                    "priority": info["priority"],
                    "msg": info["msg"],
                }
            )

    naturals = sorted(
        {
            (r["esid"], r["gid"], r["rev"], r["classid"], r["priority"], r["msg"])
            for r in enriched
        },
        key=lambda t: (t[1], t[0], t[5]),
    )
    sig_id = {nk: i + 1 for i, nk in enumerate(naturals)}

    # per-sensor dense cid in (event_second, event_id, packet_pos) order
    tables = {k: set() for k in ("event", "iphdr", "tcphdr", "udphdr", "icmphdr", "data")}
    for sid in sensor_id.values():
        rows = sorted(
            (r for r in enriched if r["sid"] == sid),
            key=lambda r: (
                r["event_second"],
                r["event_id"],
                -1 if r["packet_pos"] is None else r["packet_pos"],
            ),
        )
        for cid, r in enumerate(rows, start=1):
            ts = datetime.datetime.fromtimestamp(
                r["event_second"], datetime.timezone.utc
            ).strftime("%Y-%m-%d %H:%M:%S")
            nk = (r["esid"], r["gid"], r["rev"], r["classid"], r["priority"], r["msg"])
            tables["event"].add((sid, cid, sig_id[nk], ts))
            d = decode_ethernet(r["frame"]) if r["frame"] is not None else None
            if d is None:
                continue
            ip = d["ip"]
            ip_num = lambda s: sum(
                int(b) << (8 * (3 - i)) for i, b in enumerate(s.split("."))
            )
            tables["iphdr"].add(
                (sid, cid, ip_num(ip["src"]), ip_num(ip["dst"]), ip["ver"], ip["hlen"],
                 ip["tos"], ip["len"], ip["id"], ip["flags"], ip["off"], ip["ttl"],
                 ip["proto"], ip["csum"])
            )
            payload = None
            if d["tcp"]:
                t = d["tcp"]
                tables["tcphdr"].add(
                    (sid, cid, t["sport"], t["dport"], t["seq"], t["ack"], t["off"], 0,
                     t["flags"], t["win"], t["csum"], t["urp"])
                )
                payload = t["payload"]
            elif d["udp"]:
                u = d["udp"]
                tables["udphdr"].add((sid, cid, u["sport"], u["dport"], u["len"], u["csum"]))
                payload = u["payload"]
            elif d["icmp"]:
                ic = d["icmp"]
                tables["icmphdr"].add(
                    (sid, cid, ic["type"], ic["code"], ic["csum"], ic["id"], ic["seq"])
                )
                payload = ic["payload"]
            if payload:
                tables["data"].add(
                    (sid, cid, binascii.hexlify(payload).decode())
                )
    dims = {
        "sensor": {(sid, h) for h, sid in sensor_id.items()},
        "signature": {
            (sig_id[nk],) + nk for nk in naturals
        },
        "sig_class": {
            (cid, classmap.get(cid, "unknown-classification"))
            for cid in {r["classification_id"] for r in enriched}
        },
    }
    return tables, dims


@pytest.fixture(scope="module")
def star(spark):
    db = _fresh_db(spark, "golden")
    run_batch_pipeline(spark, db)
    return db


def _rows(df, cols):
    return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}


def test_facts_match_golden(spark, star):
    fx = u2_fixture()
    tables, _ = golden_star(fx)
    schemas = {
        "event": "sid int, cid bigint, signature int, timestamp timestamp",
        "iphdr": "sid int, cid bigint, ip_src bigint, ip_dst bigint, ip_ver int, ip_hlen int, ip_tos int, ip_len int, ip_id int, ip_flags int, ip_off int, ip_ttl int, ip_proto int, ip_csum int",
        "tcphdr": "sid int, cid bigint, tcp_sport int, tcp_dport int, tcp_seq bigint, tcp_ack bigint, tcp_off int, tcp_res int, tcp_flags int, tcp_win int, tcp_csum int, tcp_urp int",
        "udphdr": "sid int, cid bigint, udp_sport int, udp_dport int, udp_len int, udp_csum int",
        "icmphdr": "sid int, cid bigint, icmp_type int, icmp_code int, icmp_csum int, icmp_id int, icmp_seq int",
        "data": "sid int, cid bigint, data_payload string",
    }
    for name, schema in schemas.items():
        df = star.read(name, schema)
        cols = [f.split(" ")[0] for f in schema.split(", ")]
        got = set()
        for r in df.collect():
            row = []
            for c in cols:
                v = r[c]
                if isinstance(v, datetime.datetime):
                    v = v.strftime("%Y-%m-%d %H:%M:%S")
                row.append(v)
            got.add(tuple(row))
        assert got == tables[name], (
            f"{name}: {len(got)} spark rows vs {len(tables[name])} golden; "
            f"spark-only={list(got - tables[name])[:3]}, "
            f"golden-only={list(tables[name] - got)[:3]}"
        )


def test_dims_match_golden(spark, star):
    fx = u2_fixture()
    _, dims = golden_star(fx)
    sensor = star.read(
        "sensor",
        "sid int, hostname string, interface string, detail int, encoding int, last_cid bigint",
    )
    assert _rows(sensor, ["sid", "hostname"]) == dims["sensor"]

    signature = star.read(
        "signature",
        "sig_id int, sig_sid int, sig_gid int, sig_rev int, sig_class_id int, sig_priority int, sig_name string",
    )
    assert (
        _rows(
            signature,
            ["sig_id", "sig_sid", "sig_gid", "sig_rev", "sig_class_id", "sig_priority", "sig_name"],
        )
        == dims["signature"]
    )

    sig_class = star.read("sig_class", "sig_class_id int, sig_class_name string")
    assert _rows(sig_class, ["sig_class_id", "sig_class_name"]) == dims["sig_class"]


def test_last_cid_persisted(spark, star):
    """R19: sensor.last_cid equals the max cid written for that sensor."""
    sensor = star.read(
        "sensor",
        "sid int, hostname string, interface string, detail int, encoding int, last_cid bigint",
    )
    event = star.read("event", "sid int, cid bigint, signature int, timestamp timestamp")
    from pyspark.sql import functions as F

    maxes = {r["sid"]: r["m"] for r in event.groupBy("sid").agg(F.max("cid").alias("m")).collect()}
    for r in sensor.collect():
        assert r["last_cid"] == maxes[r["sid"]]


def test_streaming_equals_batch(spark):
    """The streaming pipeline (three files per micro-batch) produces the
    same star as the batch pipeline — stream-equals-batch for the full
    charlotte DAG, including cross-batch dim reuse and cid continuation."""
    import os
    import shutil

    from charlotte_spark.cli import drain, star_sink

    db_b = _fresh_db(spark, "seb_batch")
    run_batch_pipeline(spark, db_b)
    db_s = _fresh_db(spark, "seb_stream")
    ckpt = f"{db_s.path}_ckpt"
    if os.path.exists(ckpt):
        shutil.rmtree(ckpt)
    fx = u2_fixture()
    drain(spark, fx["spools"], star_sink(spark, fx["global"], db_s), ckpt, max_files_per_trigger=3)

    # signature surrogate ids are assigned first-seen-per-batch in
    # streaming vs globally in batch, so compare the id-independent star
    # summary (hostname, cid, sig_name, ts) plus the id-free fact tables
    from charlotte_spark.queries.charlotte_pipeline import _star_summary

    cols = ["hostname", "cid", "sig_name", "sig_priority", "ts"]
    assert _rows(_star_summary(spark, db_b), cols) == _rows(
        _star_summary(spark, db_s), cols
    )
    for name, schema in [
        ("data", "sid int, cid bigint, data_payload string"),
        ("tcphdr", "sid int, cid bigint, tcp_sport int, tcp_dport int, tcp_seq bigint, tcp_ack bigint, tcp_off int, tcp_res int, tcp_flags int, tcp_win int, tcp_csum int, tcp_urp int"),
    ]:
        tcols = [f.split(" ")[0] for f in schema.split(", ")]
        b = _rows(db_b.read(name, schema), tcols)
        s = _rows(db_s.read(name, schema), tcols)
        assert b == s, f"{name}: batch {len(b)} rows vs stream {len(s)}"


def test_unified2_v2_and_ipv6_records_roundtrip():
    """The spool mixes all four public event record types; the parser
    must surface each family (a silently-skipped type would show up as a
    missing group — exactly the failure mode of a 7/2/110-only reader)."""
    import os

    from charlotte_spark.queries.charlotte_pipeline import u2_fixture
    from charlotte_spark.sources.unified2 import parse_alerts

    fx = u2_fixture()
    alerts = []
    d = fx["spools"]["sensor_a"]["directories"][0]
    for fname in sorted(os.listdir(d)):
        with open(f"{d}/{fname}", "rb") as f:
            alerts.extend(parse_alerts(f.read()))
    assert len(alerts) == 120  # 3 files x 40 events, no type dropped
    fams = {(":" in a["event_ip_src"], a["vlan_id"] is not None) for a in alerts}
    # (ipv4, untagged)=v1, (ipv4, vlan)=104, (ipv6, untagged)=72, (ipv6, vlan)=105
    assert fams == {(False, False), (False, True), (True, False), (True, True)}
    v2 = [a for a in alerts if a["vlan_id"] is not None and ":" not in a["event_ip_src"]]
    assert all(100 <= a["vlan_id"] <= 104 for a in v2)
    ip6 = [a for a in alerts if ":" in a["event_ip_src"]]
    assert all(a["event_ip_src"].startswith("2001:db8::") for a in ip6)
