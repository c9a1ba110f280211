"""Seeded unified2 input generator for the ingest workloads.

Builds spool files only from the engine's public record packers
(``pack_event*``, ``pack_packet``, ``pack_extra_data``, ``make_frame``)
and keeps a ledger of what each file holds, so the checks can compare
the snorby star against the generator instead of against the engine.

What varies with the seed: the skew of the signature draw (Zipf
exponent, share of sids absent from the map), packets per alert
(0/1/3), the event record-type mix (v1, VLAN v2, IPv6, IPv6-VLAN),
payload length, and file size.

Every alert of a sensor gets its own ``event_second`` (strictly
increasing), so the star's distinct timestamps per sensor count its
alerts. Each generated frame is Ethernet + IPv4 (``make_frame``), so
every packet row lands in ``iphdr`` and ``data`` and in exactly one of
``tcphdr``/``udphdr``/``icmphdr`` by the IPv4 protocol byte.

Outputs are cached under a directory named for the seed and shape; the
ledger is written last and marks the cache entry complete.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

from charlotte_spark.sources.unified2 import (
    make_frame,
    pack_event,
    pack_event_ip6,
    pack_event_v2,
    pack_extra_data,
    pack_packet,
)

GEN_VERSION = 3
PREFIX = "snort.u2"
N_KNOWN_SIGS = 400
N_CLASSES = 12
BASE_SECOND = 1_700_000_000

# Spool sets. File sizes vary within +-25% of ``alerts_per_file``, and
# are scaled so that every seed's set holds the same number of alerts.
SHAPES = {
    # big files: per-row work must outweigh the per-batch fixed cost
    "backlog": {"sensors": 4, "files": 4, "alerts_per_file": 10000},
    # small files for the untimed warm-up drain
    "small": {"sensors": 2, "files": 4, "alerts_per_file": 300},
}

_PROTO_TABLE = {6: "tcphdr", 17: "udphdr", 1: "icmphdr"}


def _knobs(rng: random.Random) -> dict:
    """Per-seed distribution parameters."""
    p0 = rng.uniform(0.12, 0.14)
    p3 = rng.uniform(0.15, 0.17)
    mix = [rng.uniform(0.5, 1.5) for _ in range(4)]
    tot = sum(mix)
    # narrow ranges: the work per alert should not move much between
    # seeds, or the seed would show up as run-to-run spread
    return {
        "zipf_s": rng.uniform(1.0, 1.3),
        "unknown_sig": rng.uniform(0.05, 0.12),
        "p_pkts": [p0, 1.0 - p0 - p3, p3],  # 0, 1, 3 packets
        "type_mix": [m / tot for m in mix],  # v1, v2, ip6, ip6-v2
        "extra_data": rng.uniform(0.08, 0.15),
        "pad_mean": rng.uniform(90.0, 110.0),
    }


def write_maps(root: str) -> dict:
    """sid-msg.map, gen-msg.map and classification.config for the star."""
    paths = {
        "signature_map": os.path.join(root, "sid-msg.map"),
        "generator_map": os.path.join(root, "gen-msg.map"),
        "classification_map": os.path.join(root, "classification.config"),
    }
    with open(paths["signature_map"], "w") as f:
        for k in range(N_KNOWN_SIGS):
            f.write(f"{2_000_000 + k} || BENCH signature {k}\n")
    with open(paths["generator_map"], "w") as f:
        f.write("3 || 1 || BENCH generator three\n116 || 2 || BENCH decoder alert\n")
    with open(paths["classification_map"], "w") as f:
        for i in range(1, N_CLASSES + 1):
            f.write(f"config classification: bench-class-{i},Bench class {i},{1 + i % 4}\n")
    return paths


def _zipf_cdf(n: int, s: float) -> list[float]:
    w = [1.0 / (k + 1) ** s for k in range(n)]
    tot, acc, cdf = sum(w), 0.0, []
    for x in w:
        acc += x / tot
        cdf.append(acc)
    return cdf


def _write_file(path: str, rng: random.Random, knobs: dict, cdf: list[float],
                sensor_id: int, first_eid: int, first_sec: int, n_alerts: int) -> dict:
    """Write one spool file; return its ledger entry."""
    import bisect

    e = {"alerts": 0, "rows": 0, "iphdr": 0, "tcphdr": 0, "udphdr": 0,
         "icmphdr": 0, "data": 0, "by_sig": {}, "by_hour": {}}
    sec = first_sec
    buf = []
    first = None
    for i in range(n_alerts):
        eid = first_eid + i
        sec += 1 + int(rng.expovariate(0.5))
        if rng.random() < knobs["unknown_sig"]:
            gid, sig = 1, 9_000_000 + int(rng.expovariate(0.02))
        elif rng.random() < 0.03:
            gid, sig = 3, 1
        else:
            gid, sig = 1, 2_000_000 + min(bisect.bisect_left(cdf, rng.random()), N_KNOWN_SIGS - 1)
        classid = 1 + int(rng.random() * N_CLASSES) if rng.random() > 0.04 else 99
        first = sec if first is None else first
        args = (sensor_id, eid, sec, sig, gid, classid, 1 + eid % 4)
        kind = rng.choices(range(4), knobs["type_mix"])[0]
        if kind == 0:
            buf.append(pack_event(*args))
        elif kind == 1:
            buf.append(pack_event_v2(*args, mpls_label=eid % 7, vlan_id=100 + eid % 9))
        else:
            buf.append(pack_event_ip6(*args, v2=kind == 3, vlan_id=200 + eid % 5))
        n_pkts = rng.choices((0, 1, 3), knobs["p_pkts"])[0]
        for p in range(n_pkts):
            pad = rng.randbytes(int(rng.expovariate(1.0 / knobs["pad_mean"])) % 1200)
            frame = make_frame(f"{sensor_id}|{eid}|{p}") + pad
            buf.append(pack_packet(sensor_id, eid, sec, frame))
            e[_PROTO_TABLE[frame[23]]] += 1
        if rng.random() < knobs["extra_data"]:
            buf.append(pack_extra_data(sensor_id, eid, sec, 1 + eid % 3, b"xff=%d" % eid,
                                       hdr_version=1 + eid % 2))
        rows = max(1, n_pkts)
        e["alerts"] += 1
        e["rows"] += rows
        e["iphdr"] += n_pkts
        e["data"] += n_pkts
        key = f"{gid}:{sig}"
        e["by_sig"][key] = e["by_sig"].get(key, 0) + rows
        hour = str(sec - sec % 3600)
        e["by_hour"][hour] = e["by_hour"].get(hour, 0) + rows
    with open(path, "wb") as f:
        f.write(b"".join(buf))
    e["first_second"], e["last_second"] = first, sec
    return e


def generate(cache_root: str, shape_name: str, seed: int) -> dict:
    """Build (or reuse) the spool set for ``shape_name`` and ``seed``.

    Returns the ledger: map paths, and per file its sensor, relative
    path and expected row counts, in delivery order."""
    shape = SHAPES[shape_name]
    key = hashlib.md5(json.dumps([GEN_VERSION, shape], sort_keys=True).encode()).hexdigest()[:10]
    root = os.path.join(cache_root, f"{shape_name}-{key}-s{seed}")
    ledger_path = os.path.join(root, "ledger.json")
    if os.path.exists(ledger_path):
        with open(ledger_path) as f:
            return json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "files"))
    rng = random.Random(f"{shape_name}:{seed}")
    knobs = _knobs(rng)
    cdf = _zipf_cdf(N_KNOWN_SIGS, knobs["zipf_s"])
    maps = write_maps(root)
    sensors = [f"sensor_{k}" for k in range(1, shape["sensors"] + 1)]
    next_eid = {s: 1 for s in sensors}
    next_sec = {s: BASE_SECOND + k * 10_000_000 for k, s in enumerate(sensors)}
    mean = shape["alerts_per_file"]
    sizes = [rng.uniform(0.75, 1.25) for _ in range(shape["files"])]
    sizes = [round(mean * x * len(sizes) / sum(sizes)) for x in sizes]
    files = []
    for i, n in enumerate(sizes):
        sensor = sensors[i % len(sensors)]
        rel = f"files/{i:04d}-{sensor}"
        entry = _write_file(os.path.join(root, rel), rng, knobs, cdf,
                            int(sensor.split("_")[1]), next_eid[sensor], next_sec[sensor], n)
        next_eid[sensor] += n
        next_sec[sensor] = entry["last_second"] + 3600  # a rollover gap
        files.append({"sensor": sensor, "file": rel, **entry})
    ledger = {"root": root, "shape": shape_name, "seed": seed, "knobs": knobs,
              "maps": maps, "sensors": sensors, "files": files}
    with open(ledger_path + ".tmp", "w") as f:
        json.dump(ledger, f)
    os.rename(ledger_path + ".tmp", ledger_path)
    return ledger


def totals(files: list[dict]) -> dict:
    """Sum per-file ledger entries per sensor and overall."""
    out = {"alerts": 0, "rows": 0, "by_sensor": {}, "tables": {}}
    for f in files:
        out["alerts"] += f["alerts"]
        out["rows"] += f["rows"]
        s = out["by_sensor"].setdefault(f["sensor"], {"alerts": 0, "rows": 0})
        s["alerts"] += f["alerts"]
        s["rows"] += f["rows"]
        for t in ("iphdr", "tcphdr", "udphdr", "icmphdr", "data"):
            out["tables"][t] = out["tables"].get(t, 0) + f[t]
    out["tables"]["event"] = out["rows"]
    return out


def spool_name(i: int) -> str:
    """Name of the ledger's i-th file once placed in a spool."""
    return f"{PREFIX}.{BASE_SECOND + i}"


def place_backlog(ledger: dict, spool_parent: str) -> None:
    """Copy the ledger's files into ``<spool_parent>/<sensor>/`` with
    mtimes one second apart in ledger order, so that the stream source,
    which orders files by mtime at millisecond granularity, drains them
    in that order."""
    for s in ledger["sensors"]:
        os.makedirs(os.path.join(spool_parent, s), exist_ok=True)
    for i, f in enumerate(ledger["files"]):
        dst = os.path.join(spool_parent, f["sensor"], spool_name(i))
        shutil.copyfile(os.path.join(ledger["root"], f["file"]), dst)
        os.utime(dst, (BASE_SECOND + i, BASE_SECOND + i))
