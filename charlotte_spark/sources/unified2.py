"""Snort unified2 binary source (SURVEY §2.1 R1/R6/R7, §7 Phase 3).

The reference delegates unified2 parsing to the idstools library
(/root/reference/charlotte/__init__.py:28-31) and decodes packets via
``decode_ethernet`` (:482). This module implements the same surface
from the *public unified2 record framing* (type/length-framed records;
the struct layouts below are the public Snort formats):

- record framing: big-endian u32 ``type`` + u32 ``length`` + payload;
- type 7   UNIFIED2_IDS_EVENT           (52-byte fixed struct);
- type 104 UNIFIED2_IDS_EVENT_VLAN (v2) (60 bytes: v1 + mpls/vlan);
- type 72  UNIFIED2_IDS_EVENT_IPV6      (76 bytes: 16-byte addresses);
- type 105 UNIFIED2_IDS_EVENT_IPV6_VLAN (84 bytes: ipv6 + mpls/vlan);
- type 2   UNIFIED2_PACKET              (28-byte header + raw frame);
- type 110 UNIFIED2_EXTRA_DATA          (32-byte header + blob; hdr
  event_type 1 = v1 and 2 = v2 are both accepted, as in idstools).

The v2/ipv6 types match what modern Snort emits; the reference accepts
them implicitly because idstools' RecordReader handles every public
record type (/root/reference/charlotte/__init__.py:28-31).

Aggregation follows idstools' model: an event record opens an alert;
subsequent packet/extra-data records with the same
(sensor_id, event_id, event_second) attach to it (within a file — the
same boundary the reference's per-file reader loop has).

Everything is pure Python operating on byte strings, invoked from
Spark only through Arrow-batched ``mapInPandas`` over the binaryFile
source — one task per spool file, embarrassingly parallel at 100 TB.

A deterministic generator (``write_spool``) synthesizes spool files
for tests/bench — the driver's testdata has no unified2 binaries.
"""

from __future__ import annotations

import hashlib
import os
import struct

# ---------------------------------------------------------------------------
# record framing & structs (public unified2 layout)
# ---------------------------------------------------------------------------

U2_PACKET = 2
U2_IDS_EVENT = 7
U2_IDS_EVENT_IPV6 = 72
U2_IDS_EVENT_VLAN = 104  # "v2": v1 fields + mpls_label + vlan_id
U2_IDS_EVENT_IPV6_VLAN = 105
U2_EXTRA_DATA = 110

EVENT_TYPES = (U2_IDS_EVENT, U2_IDS_EVENT_IPV6, U2_IDS_EVENT_VLAN, U2_IDS_EVENT_IPV6_VLAN)

_EVENT_STRUCT = struct.Struct(">11I2H4B")  # 52 bytes
_EVENT_V2_STRUCT = struct.Struct(">11I2H4BI2H")  # 60 bytes (+mpls, vlan, pad)
_EVENT_IP6_STRUCT = struct.Struct(">9I16s16s2H4B")  # 76 bytes
_EVENT_IP6_V2_STRUCT = struct.Struct(">9I16s16s2H4BI2H")  # 84 bytes
_PACKET_STRUCT = struct.Struct(">7I")  # 28 bytes
_EXTRA_STRUCT = struct.Struct(">8I")  # 32 bytes


def _ip4_str(v: int) -> str:
    return f"{(v >> 24) & 255}.{(v >> 16) & 255}.{(v >> 8) & 255}.{v & 255}"


def _ip6_str(b: bytes) -> str:
    import ipaddress

    return str(ipaddress.IPv6Address(b))


def pack_event(
    sensor_id: int,
    event_id: int,
    event_second: int,
    signature_id: int,
    generator_id: int,
    classification_id: int,
    priority: int,
    ip_src: int = 0x0A000001,
    ip_dst: int = 0x0A000002,
) -> bytes:
    body = _EVENT_STRUCT.pack(
        sensor_id,
        event_id,
        event_second,
        0,  # event_microsecond
        signature_id,
        generator_id,
        1,  # signature_revision
        classification_id,
        priority,
        ip_src,
        ip_dst,
        0,  # sport_itype
        0,  # dport_icode
        0,  # protocol
        0,  # impact_flag
        0,  # impact
        0,  # blocked
    )
    return struct.pack(">2I", U2_IDS_EVENT, len(body)) + body


def pack_event_v2(
    sensor_id: int,
    event_id: int,
    event_second: int,
    signature_id: int,
    generator_id: int,
    classification_id: int,
    priority: int,
    ip_src: int = 0x0A000001,
    ip_dst: int = 0x0A000002,
    mpls_label: int = 0,
    vlan_id: int = 0,
) -> bytes:
    """Type 104 UNIFIED2_IDS_EVENT_VLAN — the record modern Snort emits."""
    body = _EVENT_V2_STRUCT.pack(
        sensor_id, event_id, event_second, 0,
        signature_id, generator_id, 1, classification_id, priority,
        ip_src, ip_dst, 0, 0, 0, 0, 0, 0,
        mpls_label, vlan_id, 0,
    )
    return struct.pack(">2I", U2_IDS_EVENT_VLAN, len(body)) + body


def pack_event_ip6(
    sensor_id: int,
    event_id: int,
    event_second: int,
    signature_id: int,
    generator_id: int,
    classification_id: int,
    priority: int,
    ip_src: bytes = b"\x20\x01\x0d\xb8" + b"\x00" * 11 + b"\x01",
    ip_dst: bytes = b"\x20\x01\x0d\xb8" + b"\x00" * 11 + b"\x02",
    v2: bool = False,
    mpls_label: int = 0,
    vlan_id: int = 0,
) -> bytes:
    """Type 72 (v1) / 105 (v2) IPv6 event records."""
    head = (
        sensor_id, event_id, event_second, 0,
        signature_id, generator_id, 1, classification_id, priority,
        ip_src, ip_dst, 0, 0, 0, 0, 0, 0,
    )
    if v2:
        body = _EVENT_IP6_V2_STRUCT.pack(*head, mpls_label, vlan_id, 0)
        return struct.pack(">2I", U2_IDS_EVENT_IPV6_VLAN, len(body)) + body
    body = _EVENT_IP6_STRUCT.pack(*head)
    return struct.pack(">2I", U2_IDS_EVENT_IPV6, len(body)) + body


def pack_packet(sensor_id: int, event_id: int, event_second: int, frame: bytes) -> bytes:
    body = (
        _PACKET_STRUCT.pack(
            sensor_id, event_id, event_second, event_second, 0, 1, len(frame)
        )
        + frame
    )
    return struct.pack(">2I", U2_PACKET, len(body)) + body


def pack_extra_data(
    sensor_id: int,
    event_id: int,
    event_second: int,
    dtype: int,
    blob: bytes,
    hdr_version: int = 1,
) -> bytes:
    """Extra-data record; ``hdr_version`` fills the ExtraDataHdr
    event_type field (1 = original, 2 = v2 — both parsed identically,
    matching idstools)."""
    body = (
        _EXTRA_STRUCT.pack(
            hdr_version, 32 + len(blob), sensor_id, event_id, event_second,
            dtype, 1, len(blob) + 8,
        )
        + blob
    )
    return struct.pack(">2I", U2_EXTRA_DATA, len(body)) + body


def parse_records(data: bytes):
    """Yield (type, payload) for each framed record; tolerates a
    truncated trailing record (files under active write — R1)."""
    off, n = 0, len(data)
    while off + 8 <= n:
        rtype, rlen = struct.unpack_from(">2I", data, off)
        if off + 8 + rlen > n:
            break  # partial trailing record
        yield rtype, data[off + 8 : off + 8 + rlen]
        off += 8 + rlen


def parse_alerts(data: bytes) -> list[dict]:
    """Aggregate framed records into alert dicts (idstools event model:
    event + attached packets/extra-data, keyed by (sensor,event,second))."""
    alerts: list[dict] = []
    index: dict[tuple[int, int, int], dict] = {}
    # A record whose declared length frames correctly but whose payload
    # is shorter than its type's fixed header is corrupt — skip it
    # rather than crash the stream task (the reference dies on this;
    # SURVEY §2.1 documents that defect as deliberately not replicated).
    _MIN = {
        U2_IDS_EVENT: _EVENT_STRUCT.size,
        U2_IDS_EVENT_VLAN: _EVENT_V2_STRUCT.size,
        U2_IDS_EVENT_IPV6: _EVENT_IP6_STRUCT.size,
        U2_IDS_EVENT_IPV6_VLAN: _EVENT_IP6_V2_STRUCT.size,
        U2_PACKET: _PACKET_STRUCT.size,
        U2_EXTRA_DATA: _EXTRA_STRUCT.size,
    }
    for rtype, payload in parse_records(data):
        if rtype in _MIN and len(payload) < _MIN[rtype]:
            continue  # undersized payload for this record type
        if rtype in EVENT_TYPES:
            if rtype == U2_IDS_EVENT:
                f = _EVENT_STRUCT.unpack_from(payload)
                src, dst = _ip4_str(f[9]), _ip4_str(f[10])
                mpls = vlan = None
            elif rtype == U2_IDS_EVENT_VLAN:
                f = _EVENT_V2_STRUCT.unpack_from(payload)
                src, dst = _ip4_str(f[9]), _ip4_str(f[10])
                mpls, vlan = f[17], f[18]
            elif rtype == U2_IDS_EVENT_IPV6:
                f = _EVENT_IP6_STRUCT.unpack_from(payload)
                src, dst = _ip6_str(f[9]), _ip6_str(f[10])
                mpls = vlan = None
            else:  # U2_IDS_EVENT_IPV6_VLAN
                f = _EVENT_IP6_V2_STRUCT.unpack_from(payload)
                src, dst = _ip6_str(f[9]), _ip6_str(f[10])
                mpls, vlan = f[17], f[18]
            alert = {
                "sensor_id": f[0],
                "event_id": f[1],
                "event_second": f[2],
                "signature_id": f[4],
                "generator_id": f[5],
                "signature_revision": f[6],
                "classification_id": f[7],
                "priority": f[8],
                "event_ip_src": src,
                "event_ip_dst": dst,
                "mpls_label": mpls,
                "vlan_id": vlan,
                "packets": [],
                "extra_data": [],
            }
            alerts.append(alert)
            index[(f[0], f[1], f[2])] = alert
        elif rtype == U2_PACKET:
            f = _PACKET_STRUCT.unpack_from(payload)
            frame = payload[_PACKET_STRUCT.size : _PACKET_STRUCT.size + f[6]]
            alert = index.get((f[0], f[1], f[2]))
            if alert is not None:
                alert["packets"].append(frame)
        elif rtype == U2_EXTRA_DATA:
            f = _EXTRA_STRUCT.unpack_from(payload)
            blob = payload[_EXTRA_STRUCT.size :]
            alert = index.get((f[2], f[3], f[4]))
            if alert is not None:
                alert["extra_data"].append({"type": f[5], "data": blob})
    return alerts


# ---------------------------------------------------------------------------
# packet decode (R7: eth -> ip -> tcp/udp/icmp), pure Python
# ---------------------------------------------------------------------------


def decode_ethernet(frame: bytes) -> dict | None:
    """Decode an ethernet frame into nested header dicts (the fields the
    reference consumes at charlotte/__init__.py:484-526). Returns None
    for non-IPv4 frames (charlotte's 'ip_version' probe, :484)."""
    if len(frame) < 14 + 20:
        return None
    ethertype = struct.unpack_from(">H", frame, 12)[0]
    if ethertype != 0x0800:
        return None
    ip_off = 14
    vhl, tos, tot_len, ident, flags_off, ttl, proto, csum, src, dst = struct.unpack_from(
        ">BBHHHBBH4s4s", frame, ip_off
    )
    ver, hlen = vhl >> 4, vhl & 0x0F
    if ver != 4:
        return None
    ip = {
        "src": ".".join(str(b) for b in src),
        "dst": ".".join(str(b) for b in dst),
        "ver": ver,
        "hlen": hlen,
        "tos": tos,
        "len": tot_len,
        "id": ident,
        "flags": flags_off >> 13,
        "off": flags_off & 0x1FFF,
        "ttl": ttl,
        "proto": proto,
        "csum": csum,
    }
    out = {"ip": ip, "tcp": None, "udp": None, "icmp": None}
    l4 = ip_off + hlen * 4
    if proto == 6 and len(frame) >= l4 + 20:
        sport, dport, seq, ack, offres, flags, win, tcsum, urp = struct.unpack_from(
            ">HHIIBBHHH", frame, l4
        )
        doff = offres >> 4
        out["tcp"] = {
            "sport": sport,
            "dport": dport,
            "seq": seq,
            "ack": ack,
            "off": doff,
            "flags": flags,
            "win": win,
            "csum": tcsum,
            "urp": urp,
            "payload": frame[l4 + doff * 4 :],
        }
    elif proto == 17 and len(frame) >= l4 + 8:
        sport, dport, ulen, ucsum = struct.unpack_from(">HHHH", frame, l4)
        out["udp"] = {
            "sport": sport,
            "dport": dport,
            "len": ulen,
            "csum": ucsum,
            "payload": frame[l4 + 8 :],
        }
    elif proto == 1 and len(frame) >= l4 + 4:
        itype, icode, icsum = struct.unpack_from(">BBH", frame, l4)
        icmp = {
            "type": itype,
            "code": icode,
            "csum": icsum,
            "id": None,
            "seq": None,
            "payload": frame[l4 + 4 :],
        }
        # id/seq only for types 13/14/17/18 — the reference *intends*
        # a 4-byte >HH read here (its own code has a crashing bug at
        # charlotte/__init__.py:518; we implement the intended semantics
        # per SURVEY §2.1 'known reference defects')
        if itype in (13, 14, 17, 18) and len(frame) >= l4 + 8:
            icmp["id"], icmp["seq"] = struct.unpack_from(">HH", frame, l4 + 4)
            icmp["payload"] = frame[l4 + 8 :]
        out["icmp"] = icmp
    return out


# ---------------------------------------------------------------------------
# deterministic frame/spool generator (for tests + ingest bench)
# ---------------------------------------------------------------------------


def _h(seed: str) -> int:
    return int(hashlib.md5(seed.encode()).hexdigest()[:8], 16)


def make_frame(seed: str) -> bytes:
    """Deterministic eth+IPv4 frame; protocol mix tcp/udp/icmp ~ 50/30/20."""
    r = _h(seed)
    proto_pick = r % 10
    proto = 6 if proto_pick < 5 else (17 if proto_pick < 8 else 1)
    payload = (seed.encode() * 3)[: 20 + r % 40]
    src = struct.pack(">I", 0x0A000000 | (r % 65536))
    dst = struct.pack(">I", 0xC0A80000 | ((r >> 8) % 65536))
    if proto == 6:
        l4 = struct.pack(
            ">HHIIBBHHH", r % 65536, (r >> 4) % 65536, r, (r >> 1) % (1 << 32), 5 << 4, 0x18, 8192, r % 65536, 0
        ) + payload
    elif proto == 17:
        l4 = struct.pack(">HHHH", r % 65536, (r >> 4) % 65536, 8 + len(payload), r % 65536) + payload
    else:
        itype = (13, 14, 17, 18, 8, 0)[r % 6]
        l4 = struct.pack(">BBH", itype, 0, r % 65536)
        if itype in (13, 14, 17, 18):
            l4 += struct.pack(">HH", r % 65536, (r >> 3) % 65536)
        l4 += payload
    ip_hdr = struct.pack(
        ">BBHHHBBH4s4s", 0x45, 0, 20 + len(l4), r % 65536, 0x4000, 64, proto, r % 65536, src, dst
    )
    eth = b"\x00" * 6 + b"\x11" * 6 + struct.pack(">H", 0x0800)
    return eth + ip_hdr + l4


def write_spool(
    out_dir: str,
    prefix: str = "snort.u2",
    n_files: int = 4,
    events_per_file: int = 50,
    sensor_id: int = 1,
    base_second: int = 1_700_000_000,
    unknown_sig_rate: int = 10,  # every Nth event has a (gid,sid) not in the map
    empty_event_rate: int = 7,  # every Nth event has no packets (R9)
    multi_packet_rate: int = 5,  # every Nth event has 3 packets (R10)
) -> list[str]:
    """Write deterministic unified2 spool files with a REALISTIC record
    mix — legacy v1 (7), VLAN v2 (104, what modern Snort emits), IPv6
    (72) and IPv6-VLAN (105) events — returns file paths.

    Each file's mtime is the rollover epoch in its name. Spark's file
    stream source admits files in mtime order at millisecond
    granularity; on tmpfs a whole spool lands in one millisecond and
    batch order (hence cross-batch cid sequencing) would go
    nondeterministic, where real snort spools roll over seconds apart."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    eid = 0
    for fi in range(n_files):
        path = os.path.join(out_dir, f"{prefix}.{base_second + fi}")
        with open(path, "wb") as f:
            for k in range(events_per_file):
                eid += 1
                sec = base_second + fi * 3600 + k
                sid = 9_000_000 + eid if eid % unknown_sig_rate == 0 else 1_000_000 + eid % 20
                gid = 1
                classid = 99 if eid % 11 == 0 else 1 + eid % 5
                args = (sensor_id, eid, sec, sid, gid, classid, eid % 4 + 1)
                pick = eid % 10
                if pick in (1, 4, 8):  # ~30% modern v2 records
                    f.write(pack_event_v2(*args, mpls_label=eid % 3, vlan_id=100 + eid % 5))
                elif pick == 3:
                    f.write(pack_event_ip6(*args))
                elif pick == 7:
                    f.write(pack_event_ip6(*args, v2=True, vlan_id=200 + eid % 5))
                else:
                    f.write(pack_event(*args))
                if eid % empty_event_rate == 0:
                    if eid % 2 == 0:  # half the empty events still carry extra data
                        f.write(
                            pack_extra_data(
                                sensor_id, eid, sec, 1, b"extra-%d" % eid,
                                hdr_version=2 if eid % 4 == 0 else 1,
                            )
                        )
                    continue
                n_pkts = 3 if eid % multi_packet_rate == 0 else 1
                for p in range(n_pkts):
                    f.write(
                        pack_packet(sensor_id, eid, sec, make_frame(f"{sensor_id}|{eid}|{p}"))
                    )
                if eid % 13 == 0:
                    f.write(pack_extra_data(sensor_id, eid, sec, 2, b"x%d" % eid))
        os.utime(path, (base_second + fi, base_second + fi))
        paths.append(path)
    return paths
