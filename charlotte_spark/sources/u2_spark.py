"""Spark reader for unified2 spools (R1/R4/R6/R7 — Spark-first shape).

The reference runs one OS process per spool polling directories with a
1 s sleep (/root/reference/charlotte/__init__.py:253-283). Here each
spool is a ``binaryFile`` (stream or batch) source over the same
directories with a filename glob; N directories union into one tagged
stream (R4, :257-263); Structured Streaming's checkpoint replaces the
reader bookmark (R2, :263); ``maxFilesPerTrigger`` replaces the bounded
queue backpressure (R5, scripts/charlotte:24). Each trigger admits one
file per task slot (``defaultParallelism``) by default: a unified2 file
is one non-splittable ``binaryFile`` task, so each micro-batch parses
one full wave of tasks and pays the sink's per-batch fixed cost once
per wave, and the cap grows with the cluster.

Parsing (R6) + per-packet explode (R10) are fused into one Arrow
``mapInPandas`` pass per file — the parser emits one row per packet
(or one packet-less row), so no nested-array columns ever cross the
Arrow boundary. Packet decode (R7, :482-526) is a second ``mapInPandas``
producing flat nullable header columns; the protocol dispatch chain
(R8, :484-527) becomes downstream null-filters.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .unified2 import decode_ethernet, parse_alerts

# one row per (alert, packet) — packet_pos null for packet-less alerts.
# event_ip_* / mpls_label / vlan_id come from the EVENT record itself
# (v2/ipv6 record types); ip_src/ip_dst below come from packet decode.
ALERT_FLAT_SCHEMA = (
    "sensor_name string, event_second bigint, event_id bigint, "
    "signature_id int, generator_id int, classification_id int, priority int, "
    "event_ip_src string, event_ip_dst string, mpls_label bigint, vlan_id int, "
    "n_packets int, n_extra int, packet_pos int, frame binary"
)

DECODED_SCHEMA = ALERT_FLAT_SCHEMA + (
    ", ip_src string, ip_dst string, ip_ver int, ip_hlen int, ip_tos int, ip_len int"
    ", ip_id int, ip_flags int, ip_off int, ip_ttl int, ip_proto int, ip_csum int"
    ", tcp_sport int, tcp_dport int, tcp_seq bigint, tcp_ack bigint, tcp_off int"
    ", tcp_flags int, tcp_win int, tcp_csum int, tcp_urp int"
    ", udp_sport int, udp_dport int, udp_len int, udp_csum int"
    ", icmp_type int, icmp_code int, icmp_csum int, icmp_id int, icmp_seq int"
    ", payload binary"
)


def _parse_files(batches):
    """mapInPandas body: (sensor_name, content) file rows -> flat alert rows."""
    for pdf in batches:
        rows = []
        for sensor, content in zip(pdf["sensor_name"], pdf["content"]):
            for a in parse_alerts(bytes(content)):
                base = (
                    sensor,
                    a["event_second"],
                    a["event_id"],
                    a["signature_id"],
                    a["generator_id"],
                    a["classification_id"],
                    a["priority"],
                    a["event_ip_src"],
                    a["event_ip_dst"],
                    a["mpls_label"],
                    a["vlan_id"],
                    len(a["packets"]),
                    len(a["extra_data"]),
                )
                if a["packets"]:
                    for pos, frame in enumerate(a["packets"]):
                        rows.append(base + (pos, frame))
                else:
                    rows.append(base + (None, None))
        yield pd.DataFrame(
            rows,
            columns=[
                "sensor_name",
                "event_second",
                "event_id",
                "signature_id",
                "generator_id",
                "classification_id",
                "priority",
                "event_ip_src",
                "event_ip_dst",
                "mpls_label",
                "vlan_id",
                "n_packets",
                "n_extra",
                "packet_pos",
                "frame",
            ],
        )


def _parse_and_decode(batches):
    """Fused mapInPandas body: parse + header decode in ONE Python
    boundary crossing — the flat alert rows (with their binary frames)
    never round-trip JVM→Arrow→JVM between the two steps (guide §4:
    cross the Python boundary once, pass only what the next step
    needs). Row-for-row identical to chaining the two stages."""
    return _decode_frames(_parse_files(batches))


def _decode_frames(batches):
    """mapInPandas body: attach flat decoded header columns (R7)."""
    hdr_cols = [
        c.strip().split(" ")[0]
        for c in DECODED_SCHEMA.split(",")[len(ALERT_FLAT_SCHEMA.split(",")) :]
    ]
    for pdf in batches:
        out = {c: [] for c in hdr_cols}
        for frame in pdf["frame"]:
            d = decode_ethernet(bytes(frame)) if frame is not None else None
            ip = (d or {}).get("ip")
            tcp = (d or {}).get("tcp")
            udp = (d or {}).get("udp")
            icmp = (d or {}).get("icmp")
            for k in ("src", "dst", "ver", "hlen", "tos", "len", "id", "flags", "off", "ttl", "proto", "csum"):
                out[f"ip_{k}"].append(ip[k] if ip else None)
            for k in ("sport", "dport", "seq", "ack", "off", "flags", "win", "csum", "urp"):
                out[f"tcp_{k}"].append(tcp[k] if tcp else None)
            for k in ("sport", "dport", "len", "csum"):
                out[f"udp_{k}"].append(udp[k] if udp else None)
            for k in ("type", "code", "csum", "id", "seq"):
                out[f"icmp_{k}"].append(icmp[k] if icmp else None)
            payload = None
            for layer in (tcp, udp, icmp):
                if layer is not None and layer.get("payload"):
                    payload = layer["payload"]
            out["payload"].append(payload)
        yield pd.concat([pdf.reset_index(drop=True), pd.DataFrame(out)], axis=1)


def _binary_source(
    spark: SparkSession,
    path: str,
    sensor_name: str | None,
    prefix: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """ONE ``binaryFile`` source over ``path`` as (sensor_name, content)
    rows: streaming when ``max_files_per_trigger`` (the per-trigger
    admission cap) is set, batch otherwise. ``sensor_name`` None takes
    the identity from each file's parent directory (the d185
    parent-glob shape); a name tags every file (the R4 per-directory
    shape)."""
    if max_files_per_trigger:
        reader = (
            spark.readStream.format("binaryFile")
            .schema("path string, modificationTime timestamp, length long, content binary")
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
        )
    else:
        reader = spark.read.format("binaryFile")
    df = reader.option("pathGlobFilter", f"{prefix}*" if prefix else "*").load(path)
    sensor = (
        F.lit(sensor_name)
        if sensor_name is not None
        else F.regexp_extract("path", r"([^/]+)/[^/]*$", 1)
    )
    return df.select(sensor.alias("sensor_name"), "content")


class RolloverListener:
    """R3: the reference exposes a rollover hook fired when the spool
    reader closes one file and opens the next
    (/root/reference/charlotte/__init__.py:108-120). The Spark-native
    equivalent is a StreamingQueryListener: with maxFilesPerTrigger=1
    each micro-batch IS one file, so onQueryProgress fires per rollover.

    Use ``listener.attach(spark)`` before starting the query and read
    ``listener.events`` (list of (batch_id, num_input_rows)) after.
    """

    def __init__(self) -> None:
        self.events: list[tuple[int, int]] = []
        self._impl = None

    def attach(self, spark: SparkSession) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:  # noqa: N802
                pass

            def onQueryProgress(self, event) -> None:  # noqa: N802
                p = event.progress
                outer.events.append((p.batchId, p.numInputRows))

            def onQueryIdle(self, event) -> None:  # noqa: N802
                pass

            def onQueryTerminated(self, event) -> None:  # noqa: N802
                pass

        self._impl = _L()
        spark.streams.addListener(self._impl)

    def detach(self, spark: SparkSession) -> None:
        if self._impl is not None:
            spark.streams.removeListener(self._impl)
            self._impl = None


def shared_parent_layout(spools: dict[str, dict]) -> tuple[str, str] | None:
    """Detect the evolution-safe deployment layout (VERDICT r10 #7).

    Returns ``(parent, prefix)`` when the WHOLE config is expressible
    as ONE binaryFile source over ``parent/*``: every spool directory
    sits directly under one common parent, every spool shares one file
    prefix, and each directory's basename IS its spool name — so
    sensor identity is recoverable from the file path. This is the
    layout d185 proves evolution-safe: Structured Streaming forbids
    changing the NUMBER of sources across a checkpoint restart, so the
    union-per-directory shape can never grow at day 2, while a new
    sensor subdirectory under one parent glob is just new FILES to the
    same source's seen-files log. Returns ``None`` when the config
    doesn't fit (different parents, prefix mismatch, or directory
    names that don't carry the sensor identity).
    """
    import os as _os

    parents: set[str] = set()
    prefixes: set[str] = set()
    for name, cfg in spools.items():
        prefixes.add(cfg.get("prefix", ""))
        for d in cfg["directories"]:
            d = d.rstrip("/")
            if _os.path.basename(d) != name:
                return None  # path can't carry the sensor identity
            parents.add(_os.path.dirname(d))
    if len(parents) != 1 or len(prefixes) != 1:
        return None
    return parents.pop(), prefixes.pop()


def read_spools(
    spark: SparkSession,
    spools: dict[str, dict],
    streaming: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Union all spool directories into one flat, decoded alert frame.

    ``spools`` mirrors charlotte's config section
    (charlotte/__init__.py:141-150): name -> {"directories": [...],
    "prefix": "snort.u2"}.

    When the config fits the shared-parent layout
    (:func:`shared_parent_layout`), the plan is ONE parent-glob source
    with path-derived sensor identity — the evolution-safe default
    (VERDICT r10 #7): adding a sensor at day 2 is mkdir + first
    rollover, no topology change, same checkpoint. Otherwise the
    literal R4 union-per-directory shape is kept (sensor identity from
    the config), and a streaming caller gets a warning that growing
    the spool set later will need a NEW checkpoint (d185 documents the
    restart rule).

    A stream admits at most ``max_files_per_trigger`` files per trigger
    and source (R5 backpressure); the default is the session's task
    slots, one parse wave per micro-batch. Pass 1 for one file per
    batch (the R3 rollover shape).
    """
    cap = None
    if streaming:
        cap = max_files_per_trigger or spark.sparkContext.defaultParallelism
    layout = shared_parent_layout(spools)
    if layout is not None:
        src = _binary_source(spark, f"{layout[0]}/*", None, layout[1], cap)
    else:
        parts = [
            _binary_source(spark, d, name, cfg.get("prefix", ""), cap)
            for name, cfg in sorted(spools.items())
            for d in cfg["directories"]
        ]
        if streaming and len(parts) > 1:
            import warnings

            warnings.warn(
                "spool config is not shared-parent-shaped: the stream plan "
                "unions one source per directory, and Structured Streaming "
                "forbids changing the source count across a checkpoint "
                "restart — day-2 spool growth will need a NEW checkpoint. "
                "Lay spools out as <parent>/<sensor_name>/ with one common "
                "prefix to get the evolution-safe single-source plan.",
                stacklevel=2,
            )
        src = parts[0]
        for p in parts[1:]:
            src = src.unionByName(p)  # R4: one logical stream per deployment
    return src.mapInPandas(_parse_and_decode, DECODED_SCHEMA)
