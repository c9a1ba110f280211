"""MySQL dialect shim for the snorby star (SURVEY §2.1 R21).

The reference targets MySQL/Snorby directly: parameterized DML against
the snort schema with ``inet_aton(%s)`` for address columns
(/root/reference/charlotte/__init__.py:463-538, inet_aton at :488) and
MySQLdb connect/backoff (:372-398). No MySQL server exists in this
container, so the dialect layer is validated by RENDERING: the exact
DDL/DML strings `JdbcSnorbyDB` sends to a MySQL endpoint are generated
here and golden-tested (tests/test_mysql_dialect.py) against
hand-checked MySQL statements, and the engine's Spark-side
dotted-quad→BIGINT conversion (functions/net.py `ip_str_to_long`) is
golden-tested against known ``INET_ATON`` vectors — so on MySQL the
bound bigint parameter equals what the reference's ``inet_aton(%s)``
would have produced, and the SQL itself stays dialect-free.

The tables, their columns and natural keys are not declared here: they
come from the star's one declaration, ``streaming/snorby.py``
``STAR_TABLES``, under their SQL names (``sql_table``: the ``_batches``
ledger is ``meta_batches``). This module only renders them.

Dialect facts encoded here:
- identifier quoting: backticks (MySQL), unquoted (Derby, see `quote`);
- type mapping: Spark int/bigint/string/timestamp/binary/double →
  INT/BIGINT/TEXT/DATETIME/BLOB/DOUBLE (the star needs no decimals);
- replay protection: natural keys become PRIMARY KEY in DDL, and the
  append path can be rendered as ``INSERT ... ON DUPLICATE KEY
  UPDATE`` — the MySQL idiom the reference leans on implicitly (its
  unique keys absorb replays); the engine's applied-batch marker makes
  this a belt-and-braces backstop rather than the primary mechanism.
"""

from __future__ import annotations

from ..streaming.snorby import STAR_TABLES as _STAR, sql_table

# The snorby star's declaration (streaming/snorby.py STAR_TABLES: Spark
# DDL, natural key) under the tables' SQL names.
STAR_TABLES: dict[str, tuple[str, tuple[str, ...]]] = {
    sql_table(name): spec for name, spec in _STAR.items()
}

_TYPE_MAP = {
    "mysql": {
        "int": "INT",
        "bigint": "BIGINT",
        "string": "TEXT",
        "timestamp": "DATETIME",
        "binary": "BLOB",
        "double": "DOUBLE",
        "boolean": "TINYINT(1)",
    },
    "derby": {
        "int": "INTEGER",
        "bigint": "BIGINT",
        # Derby has no TEXT; snorby payloads fit comfortably in 32k.
        "string": "VARCHAR(32672)",
        "timestamp": "TIMESTAMP",
        "binary": "BLOB",
        "double": "DOUBLE",
        "boolean": "BOOLEAN",
    },
}


def quote(ident: str, dialect: str = "mysql") -> str:
    """MySQL: backticks (matching Spark's MySQLDialect). Derby: UNQUOTED
    — quoted lowercase identifiers would create a table Spark's JDBC
    writer (which emits unquoted names that Derby case-folds) can never
    hit; the star's names contain no Derby reserved words, proven by
    the executable-DDL test."""
    return f"`{ident}`" if dialect == "mysql" else ident


def _columns(schema: str) -> list[tuple[str, str]]:
    out = []
    for part in schema.split(","):
        name, typ = part.strip().split()
        out.append((name, typ))
    return out


def render_create(table: str, dialect: str = "mysql") -> str:
    """CREATE TABLE with the natural keys as PRIMARY KEY — MySQL's
    replay backstop, exactly the role the unique keys play in the
    reference's snort schema."""
    schema, keys = STAR_TABLES[table]
    types = _TYPE_MAP[dialect]
    cols = []
    for name, typ in _columns(schema):
        null = " NOT NULL" if name in keys else ""
        # TEXT/BLOB cannot be a MySQL primary key without a length;
        # key columns in this star are always numeric, so no case
        # needs a prefix length — assert instead of silently rendering
        # invalid DDL if the schema ever changes.
        if name in keys and types[typ] in ("TEXT", "BLOB"):
            raise ValueError(f"{table}.{name}: LOB primary key needs a prefix length")
        cols.append(f"{quote(name, dialect)} {types[typ]}{null}")
    pk = ", ".join(quote(k, dialect) for k in keys)
    body = ", ".join(cols + [f"PRIMARY KEY ({pk})"])
    return f"CREATE TABLE {quote(table, dialect)} ({body})"


def render_insert(table: str, dialect: str = "mysql") -> str:
    """Plain parameterized append — what `df.write.jdbc(mode='append')`
    sends (JDBC '?' placeholders; the reference's '%s' is the MySQLdb
    paramstyle for the same statement)."""
    schema, _ = STAR_TABLES[table]
    names = [n for n, _ in _columns(schema)]
    collist = ", ".join(quote(n, dialect) for n in names)
    params = ", ".join("?" for _ in names)
    return f"INSERT INTO {quote(table, dialect)} ({collist}) VALUES ({params})"


def render_upsert(table: str) -> str:
    """MySQL-only idempotent append: INSERT ... ON DUPLICATE KEY UPDATE
    over the non-key columns. Used when a deployment wants row-level
    replay absorption in the database itself (the reference's implicit
    contract) on top of the engine's applied-batch marker."""
    schema, keys = STAR_TABLES[table]
    names = [n for n, _ in _columns(schema)]
    non_keys = [n for n in names if n not in keys]
    base = render_insert(table, "mysql")
    if not non_keys:  # key-only table: replays are plain no-ops
        return base.replace("INSERT INTO", "INSERT IGNORE INTO", 1)
    updates = ", ".join(f"{quote(n)} = VALUES({quote(n)})" for n in non_keys)
    return f"{base} ON DUPLICATE KEY UPDATE {updates}"


def ddl_statements(dialect: str = "mysql") -> list[str]:
    """Full star DDL in dependency-free order (no FKs, matching the
    snort schema's loose coupling)."""
    return [render_create(t, dialect) for t in STAR_TABLES]


def _stmt(table: str, names: list[str], exprs: dict[str, str] | None = None) -> str:
    """INSERT with optional per-column parameter expressions (e.g.
    ``INET_ATON(?)`` or literal defaults) — the shape MySQLdb's ``%s``
    templates take with JDBC placeholders."""
    collist = ", ".join(quote(n) for n in names)
    params = ", ".join((exprs or {}).get(n, "?") for n in names)
    return f"INSERT INTO {quote(table)} ({collist}) VALUES ({params})"


def render_max_cid(table: str) -> str:
    """The reference's per-table cid recovery scan
    (charlotte/__init__.py:561): instantiated for each of the seven
    snort tables it walks — including ``opt``, which exists in the
    snorby schema but is never written by either engine."""
    return f"SELECT MAX({quote('cid')}) AS {quote('last_cid')} FROM {quote(table)} WHERE {quote('sid')} = ?"


# Every SQL template the reference sends to MySQL
# (/root/reference/charlotte/__init__.py:473-608), rendered in this
# dialect layer with JDBC '?' placeholders (MySQLdb's '%s' paramstyle
# binds identically) and backtick quoting. Keyed template -> (reference
# file:line, statement). The engine reaches the same end states
# set-based (streaming/snorby.py upserts + the Spark-side INET_ATON
# equivalent), so these templates are the CONFORMANCE surface: what a
# row-at-a-time MySQL endpoint would be sent, golden-tested in
# tests/test_mysql_dialect.py one vector per template.
REFERENCE_TEMPLATES: dict[str, tuple[str, str]] = {
    # -- alert fact inserts (charlotte._push_to_db) --
    "event_insert": ("charlotte/__init__.py:473", _stmt(
        "event", ["sid", "cid", "signature", "timestamp"])),
    "iphdr_insert": ("charlotte/__init__.py:487-488", _stmt(
        "iphdr",
        ["sid", "cid", "ip_src", "ip_dst", "ip_ver", "ip_hlen", "ip_tos",
         "ip_len", "ip_id", "ip_flags", "ip_off", "ip_ttl", "ip_proto",
         "ip_csum"],
        {"ip_src": "INET_ATON(?)", "ip_dst": "INET_ATON(?)"})),
    "tcphdr_insert": ("charlotte/__init__.py:496-497", _stmt(
        "tcphdr",
        ["sid", "cid", "tcp_sport", "tcp_dport", "tcp_seq", "tcp_ack",
         "tcp_off", "tcp_res", "tcp_flags", "tcp_win", "tcp_csum",
         "tcp_urp"])),
    "udphdr_insert": ("charlotte/__init__.py:507-508", _stmt(
        "udphdr",
        ["sid", "cid", "udp_sport", "udp_dport", "udp_len", "udp_csum"])),
    "icmphdr_insert": ("charlotte/__init__.py:523-524", _stmt(
        "icmphdr",
        ["sid", "cid", "icmp_type", "icmp_code", "icmp_csum", "icmp_id",
         "icmp_seq"])),
    "data_insert": ("charlotte/__init__.py:502,512,527", _stmt(
        "data", ["sid", "cid", "data_payload"])),
    # -- sensor dim (get_sensor_id / get_next_alert_id) --
    "sensor_select_sid": ("charlotte/__init__.py:545", (
        "SELECT `sid` FROM `sensor` "
        "WHERE (`hostname` = ?) AND (`interface` = 'charlotte')")),
    "sensor_insert": ("charlotte/__init__.py:548-549", _stmt(
        "sensor", ["hostname", "interface", "detail", "encoding"],
        {"detail": "1", "encoding": "0"})),
    "sensor_select_last_cid": ("charlotte/__init__.py:559", (
        "SELECT `last_cid` FROM `sensor` WHERE `sid` = ?")),
    "max_cid_scan": ("charlotte/__init__.py:561", render_max_cid("event")),
    "sensor_update_last_cid": ("charlotte/__init__.py:565,570", (
        "UPDATE `sensor` SET `last_cid` = ? WHERE `sid` = ?")),
    # -- signature dim (get_signature_id) --
    "signature_select": ("charlotte/__init__.py:580-582", (
        "SELECT `sig_id` FROM `signature` "
        "WHERE (`sig_sid` = ?) AND (`sig_gid` = ?) AND (`sig_rev` = ?) "
        "AND (`sig_class_id` = ?) AND (`sig_priority` = ?) "
        "AND (`sig_name` = ?)")),
    "signature_insert": ("charlotte/__init__.py:585-586", _stmt(
        "signature",
        ["sig_sid", "sig_gid", "sig_rev", "sig_class_id", "sig_priority",
         "sig_name"])),
    # -- sig_class dim (update_db_classification, incl. the UPDATE
    #    branch taken when a mapped name changes: SCD-1) --
    "sig_class_select": ("charlotte/__init__.py:597", (
        "SELECT `sig_class_name` FROM `sig_class` WHERE `sig_class_id` = ?")),
    "sig_class_insert": ("charlotte/__init__.py:600-601", _stmt(
        "sig_class", ["sig_class_id", "sig_class_name"])),
    "sig_class_update": ("charlotte/__init__.py:605", (
        "UPDATE `sig_class` SET `sig_class_name` = ? WHERE `sig_class_id` = ?")),
}

# The seven tables the reference's cid recovery walks (:561). ``opt``
# is schema-only: present in snorby, written by neither engine.
MAX_CID_TABLES: tuple[str, ...] = (
    "data", "event", "icmphdr", "iphdr", "opt", "tcphdr", "udphdr",
)


# Known INET_ATON vectors (RFC dotted-quad → network-byte-order int);
# tests assert functions/net.ip_str_to_long matches these, proving the
# Spark-side conversion binds the same value the reference's
# inet_aton(%s) would have produced on MySQL.
INET_ATON_VECTORS: tuple[tuple[str, int], ...] = (
    ("0.0.0.0", 0),
    ("0.0.0.1", 1),
    ("1.2.3.4", 16909060),
    ("10.0.0.1", 167772161),
    ("127.0.0.1", 2130706433),
    ("192.168.1.255", 3232236031),
    ("255.255.255.255", 4294967295),
)
