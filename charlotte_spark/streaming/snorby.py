"""Snorby-star sink: dimension upserts + per-sensor cid sequencing
(R11-R12, R13-R19, R21, D58/D60).

The reference upserts into MySQL row-at-a-time from one serialized
writer (/root/reference/charlotte/__init__.py:463-611). Here a batch
(one micro-batch in streaming, or the whole input in batch mode) is
processed set-wise:

- enrichment: broadcast left-outer joins against the signature /
  classification maps with charlotte's fabricated defaults on miss
  (rev=0, classid=0, priority=10, msg='Unknown Alert gid:sid' — :189;
  name='unknown-classification' — :202);
- dimension upserts: anti-join-then-append with dense ids (R16/R17),
  SCD-1 name update for sig_class (R18, :606-608);
- cid: per-sensor dense sequence = row_number over (event_second,
  event_id, packet_pos) + the persisted ``sensor.last_cid`` offset
  (R19 — exactly charlotte's design at :554-570, parallelized);
  last_cid is written back after each batch (:566-569);
- facts: event / iphdr / tcphdr / udphdr / icmphdr / data, with R11
  timestamp normalization and R12 lowercase-hex payloads;
- idempotent restart: each applied batch id is recorded last, as the
  batch's commit marker, and a re-delivered batch whose marker exists is
  skipped (the exactly-once story for sinks without
  checkpoint-coordinated transactions, SURVEY §7 hard #1). A crash
  before the marker replays the whole batch: its dim writes are
  idempotent, but fact appends or a ``last_cid`` watermark that already
  landed are applied a second time (the torn batch of ROADMAP item 1;
  tests/test_snorby.py's crash-point matrix marks those points).

The star's tables are declared once, in ``STAR_TABLES``; the writes
here, the readers, ``sinks/jdbc.py`` and the MySQL DDL of
``sinks/mysql_dialect.py`` all derive from it. The "database" is a
directory of parquet tables (the container has no MySQL); whole-file
writes of the small tables are atomic. ``sinks/jdbc.JdbcSnorbyDB``
sends the same writes through ``df.write.jdbc`` wrapped in the R21
retry helper. Single-writer is assumed, like the reference (SURVEY §7
hard #2).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pyspark.storagelevel import StorageLevel

from ..functions.net import ip_str_to_long
from ..session import arrow_table, join_futures, local_df

# The snorby star as this engine writes it (charlotte/__init__.py:463-611):
# table -> (Spark DDL in column order, natural key). The sink's writes,
# SnorbyDB/JdbcSnorbyDB reads and the MySQL DDL (sinks/mysql_dialect.py)
# all derive from this one declaration. ``_batches`` is the
# applied-batch ledger.
STAR_TABLES: dict[str, tuple[str, tuple[str, ...]]] = {
    "sensor": (
        "sid int, hostname string, interface string, detail int, "
        "encoding int, last_cid bigint",
        ("sid",),
    ),
    "signature": (
        "sig_id int, sig_sid int, sig_gid int, sig_rev int, "
        "sig_class_id int, sig_priority int, sig_name string",
        ("sig_id",),
    ),
    "sig_class": (
        "sig_class_id int, sig_class_name string",
        ("sig_class_id",),
    ),
    "event": (
        "sid int, cid bigint, signature int, timestamp timestamp",
        ("sid", "cid"),
    ),
    "iphdr": (
        "sid int, cid bigint, ip_src bigint, ip_dst bigint, ip_ver int, "
        "ip_hlen int, ip_tos int, ip_len int, ip_id int, ip_flags int, "
        "ip_off int, ip_ttl int, ip_proto int, ip_csum int",
        ("sid", "cid"),
    ),
    "tcphdr": (
        "sid int, cid bigint, tcp_sport int, tcp_dport int, tcp_seq bigint, "
        "tcp_ack bigint, tcp_off int, tcp_res int, tcp_flags int, "
        "tcp_win int, tcp_csum int, tcp_urp int",
        ("sid", "cid"),
    ),
    "udphdr": (
        "sid int, cid bigint, udp_sport int, udp_dport int, udp_len int, "
        "udp_csum int",
        ("sid", "cid"),
    ),
    "icmphdr": (
        "sid int, cid bigint, icmp_type int, icmp_code int, icmp_csum int, "
        "icmp_id int, icmp_seq int",
        ("sid", "cid"),
    ),
    "data": (
        "sid int, cid bigint, data_payload string",
        ("sid", "cid"),
    ),
    "_batches": ("batch_id bigint", ("batch_id",)),
}

# fact table -> the alert column whose presence gives an alert a row in
# it (every alert has an event row)
_FACT_PRESENCE = {
    "event": None,
    "iphdr": "ip_ver",
    "tcphdr": "tcp_sport",
    "udphdr": "udp_sport",
    "icmphdr": "icmp_type",
    "data": "payload",
}
FACT_TABLES = tuple(_FACT_PRESENCE)
DIM_TABLES = ("sensor", "signature", "sig_class")

SENSOR_SCHEMA = STAR_TABLES["sensor"][0]
SIGNATURE_SCHEMA = STAR_TABLES["signature"][0]


def star_columns(name: str) -> list[str]:
    """Declared column names of star table ``name``, in order."""
    return [part.split()[0] for part in STAR_TABLES[name][0].split(",")]


def sql_table(name: str) -> str:
    """Star table ``name`` as named in a SQL database: identifiers can't
    start with '_' in most DBMSs (Derby, ANSI), so the parquet tier's
    ``_batches`` ledger is ``meta_batches`` there."""
    return f"meta{name}" if name.startswith("_") else name


def with_retry(fn, max_tries: int = 8, base_sleep: float = 1.0, fatal=None):
    """R21: exponential backoff (1,2,4,... s) between the tries of a
    sink write. The reference retries forever (:393-397); we cap so
    tests terminate, and raise the last error right after the last try.
    ``fatal(e) -> bool`` short-circuits errors that no amount of
    retrying fixes (missing table, SQL syntax) — retrying those burns
    the full backoff budget (127 s at defaults) before the caller's
    absent-table handling can run."""
    for attempt in range(max_tries):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — sink errors are env-specific
            if attempt == max_tries - 1 or (fatal is not None and fatal(e)):
                raise
            time.sleep(base_sleep * (2**attempt))


class SnorbyDB:
    """Parquet-backed stand-in for the snorby MySQL schema.

    Two tiers, mirroring the reference's split between its in-memory
    id caches (charlotte/__init__.py:360-362) and the MySQL fact
    inserts: KB-sized driver state (dimensions, the applied-batch
    marker) lives in `read_small`/`overwrite_small` — pyarrow I/O plus
    an in-process cache, valid under the documented single-writer
    assumption — while fact tables go through distributed Spark writes
    (`append`). At 100 TB the facts are the 100 TB; the dims stay KBs.
    A ``schema`` left out is the table's declared one (`STAR_TABLES`).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        os.makedirs(self.path, exist_ok=True)
        self._small: dict[str, list[dict]] = {}  # name -> cached rows
        self._applied: set[int] | None = None

    def _tdir(self, name: str) -> str:
        return f"{self.path}/{name}"

    def read(self, name: str, schema: str | None = None) -> DataFrame:
        """Every declared column of table ``name``; an absent table is
        an empty frame of ``schema``."""
        if os.path.exists(self._tdir(name)):
            return self.spark.read.schema(STAR_TABLES[name][0]).parquet(self._tdir(name))
        return local_df(self.spark, [], schema or STAR_TABLES[name][0])

    def append(self, name: str, df: DataFrame) -> None:
        with_retry(lambda: df.write.mode("append").parquet(self._tdir(name)))

    # -- small-table tier (driver-side, cached; single writer) --------

    def read_small(self, name: str, schema: str | None = None) -> list[dict]:
        """Rows of a KB-sized table as dicts; parquet read-through once
        per process, then served from the cache this writer maintains."""
        if name not in self._small:
            d = self._tdir(name)
            if os.path.exists(d):
                import pyarrow.parquet as pq

                self._small[name] = pq.read_table(d).to_pylist()
            else:
                self._small[name] = []
        return self._small[name]

    def _publish(self, name: str, part: str, rows: list[dict], schema: str) -> None:
        """Write ``rows`` as the parquet file ``part`` of table ``name``
        (no Spark job — these tables are KBs). The file is written under
        a ``_``-prefixed name without the ``.parquet`` suffix, which
        Spark and pyarrow readers skip, then renamed into place: a crash
        at any point leaves the old file or the new one, never a torn
        file or a missing table."""
        import pyarrow.parquet as pq

        d = self._tdir(name)
        os.makedirs(d, exist_ok=True)
        tmp = f"{d}/_{part}.tmp"
        table = arrow_table(rows, schema)
        with_retry(lambda: pq.write_table(table, tmp))
        os.replace(tmp, f"{d}/{part}")

    def overwrite_small(self, name: str, rows: list[dict], schema: str | None = None) -> None:
        """Atomic driver-side overwrite: the table is one parquet part."""
        self._publish(name, "part-00000.parquet", rows, schema or STAR_TABLES[name][0])
        self._small[name] = rows

    def applied_batches(self) -> set[int]:
        if self._applied is None:
            self._applied = {r["batch_id"] for r in self.read_small("_batches")}
        return self._applied

    def mark_applied(self, batch_id: int) -> None:
        """Append-only commit marker; one tiny parquet part per batch,
        named by the batch id alone (single writer, and a batch id is
        marked once), so a replay after a torn marker write overwrites
        that write's temporary file."""
        self._publish(
            "_batches",
            f"part-{batch_id:08d}.parquet",
            [{"batch_id": batch_id}],
            STAR_TABLES["_batches"][0],
        )
        self.applied_batches().add(batch_id)
        self._small.pop("_batches", None)


def enrich(alerts: DataFrame, sig_map: DataFrame, class_map: DataFrame) -> DataFrame:
    """R13/R14: broadcast left joins + charlotte default fabrication."""
    a = alerts.join(
        F.broadcast(
            sig_map.select(
                F.col("gid").alias("m_gid"),
                F.col("sid").alias("m_sid"),
                F.col("rev").alias("m_rev"),
                F.col("classid").alias("m_classid"),
                F.col("priority").alias("m_priority"),
                F.col("msg").alias("m_msg"),
            )
        ),
        (F.col("generator_id") == F.col("m_gid")) & (F.col("signature_id") == F.col("m_sid")),
        "left",
    )
    a = a.select(
        *alerts.columns,
        F.coalesce("m_rev", F.lit(0)).alias("sig_rev"),
        F.coalesce("m_classid", F.lit(0)).alias("sig_classid"),
        F.coalesce("m_priority", F.lit(10)).alias("sig_priority"),
        F.coalesce(
            "m_msg",
            F.concat(
                F.lit("Unknown Alert "),
                F.col("generator_id").cast("string"),
                F.lit(":"),
                F.col("signature_id").cast("string"),
            ),
        ).alias("sig_msg"),
    )
    # class name keyed by the *event's* classification id — the reference's
    # sig_class upsert path (charlotte/__init__.py:465, :597-611) is driven
    # by event['classification-id'], independent of the signature map.
    a = a.join(
        F.broadcast(
            class_map.select(
                F.col("classid").alias("c_classid"), F.col("name").alias("c_name")
            )
        ),
        F.col("classification_id") == F.col("c_classid"),
        "left",
    )
    return a.withColumn(
        "class_name", F.coalesce("c_name", F.lit("unknown-classification"))
    ).drop("c_classid", "c_name")


def _upsert_sensor(db: SnorbyDB, batch_names: set[str]) -> DataFrame:
    """R16: insert-if-absent on (hostname, interface); returns full dim.

    The batch's distinct hostnames arrive pre-collected (one shared
    dim-distinct job per batch — see `_apply_batch_body`); the KB-sized
    dim merge itself runs driver-side, the set-wise analog of the
    reference's sensor-id cache (:360, :550)."""
    dim = db.read_small("sensor", SENSOR_SCHEMA)
    seen = {r["hostname"] for r in dim}
    new_names = sorted(set(batch_names) - seen)
    if new_names:
        n = len(dim)
        dim = dim + [
            {
                "sid": n + i + 1,
                "hostname": h,
                "interface": "charlotte",
                "detail": 1,
                "encoding": 2,
                "last_cid": 0,
            }
            for i, h in enumerate(new_names)
        ]
        db.overwrite_small("sensor", dim, SENSOR_SCHEMA)
    return local_df(db.spark, dim, SENSOR_SCHEMA)


# the signature dim's natural key: every column but the dense sig_id
_SIG_NATURAL = tuple(star_columns("signature")[1:])


def _upsert_signature(db: SnorbyDB, naturals: set[tuple]) -> DataFrame:
    """R17: insert-if-absent on the 6-column natural key; dense sig_id.
    Same split as `_upsert_sensor`: the batch's distinct natural keys
    arrive pre-collected, the KB-sized key merge runs driver-side (the
    reference's (gid,sid) cache, :592)."""
    dim = db.read_small("signature", SIGNATURE_SCHEMA)
    seen = {tuple(r[k] for k in _SIG_NATURAL) for r in dim}
    new = sorted(
        (t for t in naturals if t not in seen),
        key=lambda t: (t[1], t[0], t[5]),  # sig_gid, sig_sid, sig_name
    )
    if new:
        n = len(dim)
        dim = dim + [
            {"sig_id": n + i + 1, **dict(zip(_SIG_NATURAL, t))}
            for i, t in enumerate(new)
        ]
        db.overwrite_small("signature", dim, SIGNATURE_SCHEMA)
    return local_df(db.spark, dim, SIGNATURE_SCHEMA)


def _upsert_sig_class(db: SnorbyDB, current: dict[int, str]) -> None:
    """R18: insert-if-absent on classid; UPDATE name if it drifted
    (charlotte/__init__.py:606-608 — SCD-1 overwrite). ``current`` is
    the batch's pre-collected classid -> name map."""
    schema = STAR_TABLES["sig_class"][0]
    dim = db.read_small("sig_class", schema)
    current = dict(current)  # consumed destructively below
    merged = [
        {
            "sig_class_id": r["sig_class_id"],
            "sig_class_name": current.pop(r["sig_class_id"], r["sig_class_name"]),
        }
        for r in dim
    ]
    merged += [
        {"sig_class_id": cid, "sig_class_name": name}
        for cid, name in sorted(current.items())
    ]
    if merged != dim:
        db.overwrite_small("sig_class", merged, schema)


def apply_batch(
    db: SnorbyDB,
    enriched: DataFrame,
    batch_id: int,
) -> None:
    """D60/foreachBatch body: upsert dims, sequence cids, append facts."""
    if batch_id in db.applied_batches():
        return  # idempotent replay after restart
    _apply_batch_body(db, enriched, batch_id)


def _apply_batch_body(
    db: SnorbyDB,
    enriched: DataFrame,
    batch_id: int,
) -> None:

    # persist, not checkpoint: the batch feeds ~10 downstream jobs, but
    # its lineage is one micro-batch deep and the source is replayable,
    # so cached blocks + retained lineage are already fault-tolerant —
    # a checkpoint write per batch would be pure overhead (measured ~15%
    # of ingest throughput). Unpersisted on every exit from the batch.
    enriched = enriched.persist(StorageLevel.MEMORY_AND_DISK)
    a = None
    try:
        # ONE grouped collect feeds the emptiness check, all three dim
        # upserts AND the per-sensor last_cid watermark (r15 collapsed
        # an isEmpty job plus one distinct+collect per dim into one
        # distinct; r16 turns the distinct into the equivalent groupBy
        # + count so the batch's per-sensor row counts ride the same
        # job — cid is a dense row_number per sensor, so max assigned
        # cid == last_cid + n_rows, and the separate distributed
        # max(cid) aggregate per batch is deleted; guide §1.2 remove
        # work). The combined tuple's cardinality is bounded by the
        # batch's distinct (sensor, signature, class) combinations —
        # dim-sized, not batch-sized, and the partial-agg shuffle
        # dedups/counts map-side.
        combos = (
            enriched.groupBy(
                "sensor_name", "signature_id", "generator_id", "sig_rev",
                "sig_classid", "sig_priority", "sig_msg",
                "classification_id", "class_name",
            )
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .collect()
        )
        if combos:
            a = _sequenced(db, enriched, combos).persist(StorageLevel.MEMORY_AND_DISK)
            _append_facts(db, a)
            _advance_last_cid(db, combos)
    finally:
        if a is not None:
            a.unpersist()
        enriched.unpersist()
    db.mark_applied(batch_id)


def _sequenced(db: SnorbyDB, enriched: DataFrame, combos: list) -> DataFrame:
    """Upsert the dims from the batch's combos, then attach sid and
    sig_id and the per-sensor dense cid to every alert."""
    # dim upserts are pure driver work (KB-sized merges + pyarrow
    # writes) over the shared collect — no per-dim Spark jobs to overlap
    sensor = _upsert_sensor(db, {r.sensor_name for r in combos})
    signature = _upsert_signature(
        db,
        {
            (
                r.signature_id, r.generator_id, r.sig_rev,
                r.sig_classid, r.sig_priority, r.sig_msg,
            )
            for r in combos
        },
    )
    _upsert_sig_class(db, {r.classification_id: r.class_name for r in combos})

    a = enriched.join(
        F.broadcast(sensor.select(F.col("hostname").alias("sensor_name"), "sid", "last_cid")),
        "sensor_name",
    ).join(
        F.broadcast(
            signature.select(
                F.col("sig_sid").alias("signature_id"),
                F.col("sig_gid").alias("generator_id"),
                "sig_rev",
                F.col("sig_class_id").alias("sig_classid"),
                "sig_priority",
                F.col("sig_name").alias("sig_msg"),
                "sig_id",
            )
        ),
        ["signature_id", "generator_id", "sig_rev", "sig_classid", "sig_priority", "sig_msg"],
    )

    # R19/D58: per-sensor dense cid (row_number + persisted offset)
    w = W.partitionBy("sid").orderBy(
        F.col("event_second").asc(),
        F.col("event_id").asc(),
        F.col("packet_pos").asc_nulls_first(),
    )
    return a.withColumn("cid", F.row_number().over(w) + F.col("last_cid"))


def _append_facts(db: SnorbyDB, a: DataFrame) -> None:
    """Append each fact table's declared columns: the derived ones are
    computed on ``a`` once, each fact keeps the alerts its presence
    column marks (`_FACT_PRESENCE`)."""
    a = a.withColumns(
        {
            "signature": F.col("sig_id"),
            # R11 timestamp normalize — epoch seconds -> UTC wall-clock
            "timestamp": F.from_unixtime("event_second").cast("timestamp"),
            "ip_src": ip_str_to_long(F.col("ip_src")),
            "ip_dst": ip_str_to_long(F.col("ip_dst")),
            "tcp_res": F.lit(0),
            # R12: lowercase hex payload (Spark hex() is uppercase)
            "data_payload": F.lower(F.hex("payload")),
        }
    )
    facts = {
        name: (a if present is None else a.filter(F.col(present).isNotNull())).select(
            *star_columns(name)
        )
        for name, present in _FACT_PRESENCE.items()
    }
    # the six fact appends read only the persisted `a` and write
    # disjoint tables — run them as concurrent Spark jobs; the
    # applied-batch marker comes strictly last (it is the idempotence
    # commit point)
    with ThreadPoolExecutor(max_workers=len(facts)) as pool:
        join_futures([pool.submit(db.append, name, df) for name, df in facts.items()])


def _advance_last_cid(db: SnorbyDB, combos: list) -> None:
    """R19 persist: sensor.last_cid = max assigned cid (:566-569).
    cid is row_number + the sensor's pre-batch last_cid, so the max
    equals last_cid + the sensor's batch row count — already summed
    map-side into the shared combos collect; pure driver work, the r15
    shape's per-batch distributed max(cid) job is gone."""
    n_per_sensor: dict[str, int] = {}
    for r in combos:
        n_per_sensor[r.sensor_name] = n_per_sensor.get(r.sensor_name, 0) + r.n_rows
    dim = [
        {**s, "last_cid": s["last_cid"] + n_per_sensor.get(s["hostname"], 0)}
        for s in db.read_small("sensor", SENSOR_SCHEMA)
    ]
    db.overwrite_small("sensor", dim, SENSOR_SCHEMA)
