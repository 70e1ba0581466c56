"""ClickHouse DDL front-end: CREATE TABLE → TableDef + Spark schema.

Parses the reference's table-definition dialect (SURVEY.md §1.2-1.4;
DDL shapes at homeworks/scripts/hw02.sql:1-22, lectures/
lecture_07.md:34-40) so a user can bring their CH ``CREATE TABLE``
statements unchanged:

    CREATE TABLE trips (
        trip_id UInt32,
        pickup_datetime DateTime,
        fare_amount Float32,
        payment_type Enum('CSH'=1, 'CRE'=2),
        note Nullable(String)
    ) ENGINE = MergeTree
    PARTITION BY toYYYYMM(pickup_datetime)
    ORDER BY (pickup_datetime, trip_id)

Type mapping follows SURVEY.md §1.2 (UInt64 widens to Decimal(20,0) to
hold the full unsigned range; LowCardinality/Enum are storage hints →
string; columns are non-nullable unless ``Nullable(T)``, matching CH's
default-non-null contract).
"""

from __future__ import annotations

import re

from otus_clickhouse_spark.engine import Column, TableDef
from otus_clickhouse_spark.functions.lexer import (
    LIT,
    Masked,
    close_paren,
    split_top,
    strip_comments,
    unquote,
)

_SIMPLE_TYPES = {
    "string": "string",
    "uint8": "smallint",
    "uint16": "int",
    "uint32": "bigint",
    "uint64": "decimal(20,0)",
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",  # bare `Float` alias (init.sql:48 `temperature Float`)
    "float32": "float",
    "float64": "double",
    "date": "date",
    "date32": "date",
    "datetime": "timestamp",
    "datetime64": "timestamp",
    "bool": "boolean",
    "boolean": "boolean",
    "uuid": "string",
    "ipv4": "string",
    "ipv6": "string",
    "json": "string",
}


def ch_type_to_spark(t: str) -> tuple[str, bool]:
    """CH type → (spark DDL type, nullable)."""
    t = t.strip()
    # trailing CODEC(ZSTD|LZ4|Delta, …) compression spec
    # (lecture_12.md `add column str String codec(ZSTD)`) — a storage
    # hint; parquet's codec is table-level here
    m = re.match(r"^(.*?)\s+CODEC\s*\(.*\)$", t, re.IGNORECASE | re.DOTALL)
    if m:
        return ch_type_to_spark(m.group(1))
    # trailing NULL / NOT NULL modifiers (hw-style `DateTime64 NOT NULL`)
    m = re.match(r"^(.*?)\s+NOT\s+NULL$", t, re.IGNORECASE | re.DOTALL)
    if m:
        inner, _ = ch_type_to_spark(m.group(1))
        return inner, False
    m = re.match(r"^(.*?)\s+NULL$", t, re.IGNORECASE | re.DOTALL)
    if m:
        inner, _ = ch_type_to_spark(m.group(1))
        return inner, True
    m = re.match(r"^Nullable\s*\((.*)\)$", t, re.IGNORECASE | re.DOTALL)
    if m:
        inner, _ = ch_type_to_spark(m.group(1))
        return inner, True
    m = re.match(r"^LowCardinality\s*\((.*)\)$", t, re.IGNORECASE | re.DOTALL)
    if m:  # dictionary encoding is a storage hint — parquet does it anyway
        return ch_type_to_spark(m.group(1))
    m = re.match(r"^FixedString\s*\(\s*\d+\s*\)$", t, re.IGNORECASE)
    if m:
        return "string", False
    m = re.match(r"^Enum(?:8|16)?\s*\(", t, re.IGNORECASE)
    if m:  # Enum('CSH'=1,...) → validated string (SURVEY §1.2)
        return "string", False
    m = re.match(r"^Decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", t, re.IGNORECASE)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})", False
    m = re.match(r"^Decimal(32|64|128)\s*\(\s*(\d+)\s*\)$", t, re.IGNORECASE)
    if m:
        precision = {"32": 9, "64": 18, "128": 38}[m.group(1)]
        return f"decimal({precision},{m.group(2)})", False
    m = re.match(r"^DateTime64\s*\(\s*\d+\s*(?:,.*)?\)$", t, re.IGNORECASE)
    if m:
        return "timestamp", False
    m = re.match(r"^Array\s*\((.*)\)$", t, re.IGNORECASE | re.DOTALL)
    if m:
        inner, _ = ch_type_to_spark(m.group(1))
        return f"array<{inner}>", False
    m = re.match(r"^Map\s*\((.*)\)$", t, re.IGNORECASE | re.DOTALL)
    if m:
        k, v = split_top(m.group(1))
        return f"map<{ch_type_to_spark(k)[0]},{ch_type_to_spark(v)[0]}>", False
    m = re.match(r"^Tuple\s*\((.*)\)$", t, re.IGNORECASE | re.DOTALL)
    if m:
        fields = [ch_type_to_spark(a)[0] for a in split_top(m.group(1))]
        inner = ", ".join(f"_{i + 1}: {f}" for i, f in enumerate(fields))
        return f"struct<{inner}>", False
    m = _AGG_STATE_RE.match(t)
    if m:
        parts = split_top(m.group(2))
        fn = re.sub(r"If$", "", parts[0].strip())
        if not m.group(1):  # full AggregateFunction: typed state encoding
            if fn == "uniq":
                return "binary", False
            if fn == "avg":
                return "struct<sum: double, count: bigint>", False
            if fn == "groupArray":
                inner, _ = ch_type_to_spark(parts[1])
                return f"array<{inner}>", False
        if fn == "count" or len(parts) < 2 or not parts[1]:
            return "bigint", False
        return ch_type_to_spark(parts[1])
    key = t.lower()
    if key in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[key], False
    raise ValueError(f"unsupported ClickHouse type: {t!r}")


# AggregateFunction(fn, T…) / SimpleAggregateFunction(fn, T) columns
# (lectures/lecture_04.md:113-120, lecture_07.md:495-546). State
# encodings per SURVEY.md §7 hard part 1:
#   uniq       → binary (DataSketches HLL sketch; hll_sketch_agg)
#   avg        → struct<sum: double, count: bigint>
#   groupArray → array<T>
#   sum/min/max/any/count/… (and every Simple…) → underlying T: for
#     merge-idempotent functions the partial IS the state.
_AGG_STATE_RE = re.compile(
    r"^(Simple)?AggregateFunction\s*\((.*)\)$", re.IGNORECASE | re.DOTALL
)


def agg_state_function(t: str) -> str | None:
    """Function name declared in an AggregateFunction column type."""
    m = _AGG_STATE_RE.match(t.strip())
    return split_top(m.group(2))[0] if m else None


# Enum('CSH' = 1, …) / Enum8/Enum16, with or without explicit codes
# (SURVEY §1.2; homeworks/scripts/hw02.sql:17). Stored as the NAME
# string; the code mapping is kept so numeric comparisons
# (`payment_type = 1`, hw02.md:91-105) and numeric inserts still work.
_ENUM_RE = re.compile(r"^Enum(?:8|16)?\s*\((.*)\)$", re.IGNORECASE | re.DOTALL)


def enum_mapping(t: str) -> dict[str, int] | None:
    """name → code mapping for an Enum column type, else None."""
    m = _ENUM_RE.match(t.strip())
    if not m:
        m2 = re.match(
            r"^(?:Nullable|LowCardinality)\s*\((.*)\)$", t.strip(), re.IGNORECASE | re.DOTALL
        )
        return enum_mapping(m2.group(1)) if m2 else None
    out: dict[str, int] = {}
    lits = Masked(m.group(1))
    for i, item in enumerate(split_top(lits.text), 1):
        em = re.match(rf"^({LIT})\s*(?:=\s*(-?\d+))?$", item)
        if not em:
            raise ValueError(f"cannot parse enum member: {lits.unmask(item)!r}")
        out[lits.value(em.group(1))] = int(em.group(2)) if em.group(2) else i
    return out


_CREATE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?:[\w]+\.)?(?P<name>[\w]+)\s*"
    r"\((?P<cols>.*)\)\s*"
    r"ENGINE\s*=?\s*(?P<engine>[\w]+)\s*(?:\((?P<engine_args>(?:[^()]|\([^()]*\))*)\))?"
    r"(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
# the clauses that can follow a key in a CREATE TABLE's tail
_CLAUSE_RE = re.compile(
    r"\b(?:ORDER\s+BY|PARTITION\s+BY|PRIMARY\s+KEY|SAMPLE\s+BY|TTL|SETTINGS|COMMENT)\b",
    re.IGNORECASE,
)
_COL_EXTRAS_RE = re.compile(
    r"\s+(DEFAULT|MATERIALIZED|ALIAS|CODEC|COMMENT|TTL)\b.*$", re.IGNORECASE | re.DOTALL
)
# DEFAULT/MATERIALIZED/ALIAS expr, up to the next column attribute
# (lectures/lecture_12.md:14-47, lecture_07.md:20-21)
_COL_ATTR_RE = re.compile(
    r"\b(DEFAULT|MATERIALIZED|ALIAS)\s+(.+?)(?=\s+(?:CODEC|COMMENT|TTL)\b|$)",
    re.IGNORECASE | re.DOTALL,
)


def split_ttl_action(ttl: str) -> tuple[str, tuple[str, str] | None]:
    """Split a CH TTL clause into (expression, optional move action).

    ``TTL ts + INTERVAL 1 HOUR TO VOLUME 'cold'`` (lecture_14.md:233)
    moves expired rows to another storage-policy volume instead of
    deleting them; ``TO DISK`` is the single-disk form; an explicit
    trailing DELETE is the default action spelled out."""
    lits = Masked(ttl)
    m = re.search(rf"\s+TO\s+(VOLUME|DISK)\s+({LIT})\s*$", lits.text, re.IGNORECASE)
    if m:
        action = (m.group(1).lower(), lits.value(m.group(2)))
        return lits.unmask(lits.text[: m.start()]).strip(), action
    return re.sub(r"\s+DELETE\s*$", "", ttl, flags=re.IGNORECASE).strip(), None


def column_def(item: str) -> Column:
    """One column definition of a CREATE TABLE or an ADD COLUMN:
    ``name Type [DEFAULT|MATERIALIZED|ALIAS expr] [CODEC(…)] [COMMENT …]``
    (lecture_12.md:14-47). An ALIAS may omit the type (`c ALIAS expr`)."""
    am = _COL_ATTR_RE.search(item)
    kind, expr = (am.group(1).upper(), am.group(2).strip()) if am else ("", None)
    lits = Masked(_COL_EXTRAS_RE.sub("", item).strip())
    cm = re.match(rf"^({LIT}|\w+)(?:\s+(.+))?$", lits.text, re.DOTALL)
    if not cm or not (cm.group(2) or kind == "ALIAS"):
        raise ValueError(f"cannot parse column: {item!r}")
    ch_type = lits.unmask(cm.group(2)).strip() if cm.group(2) else None
    spark_type, nullable = ch_type_to_spark(ch_type) if ch_type else (None, True)
    return Column(lits.value(cm.group(1)), ch_type, spark_type, nullable, kind, expr)


def parse_create_table(ddl: str) -> TableDef:
    """Parse a CH CREATE TABLE into a TableDef with its column list.

    Column attributes (lecture_12.md:14-47): ``DEFAULT expr`` fills the
    column when an INSERT omits it; ``MATERIALIZED expr`` is always
    computed at insert (not writable); ``ALIAS expr`` is virtual —
    excluded from the stored schema and recomputed per query by the
    engine's view registration.
    """
    ddl = strip_comments(ddl)
    m = _CREATE_RE.match(ddl.strip().rstrip(";"))
    if not m:
        raise ValueError("not a CREATE TABLE statement")
    # secondary indexes/projections: D9/D10 handled elsewhere
    other = re.compile(r"^(INDEX|PROJECTION|CONSTRAINT|PRIMARY\s+KEY)\b", re.IGNORECASE)
    columns = tuple(
        column_def(item) for item in split_top(m.group("cols")) if item and not other.match(item)
    )
    rest = m.group("rest") or ""
    tail = Masked(rest)

    def clause(kw: str) -> str | None:
        # a key is the whole expression up to the next table clause
        # outside parentheses: `PARTITION BY k % 2 ORDER BY k`
        cm = re.search(rf"\b{kw}\s+", tail.text, re.IGNORECASE)
        if not cm:
            return None
        body = tail.text[cm.end() :]
        end = next(
            (
                e.start()
                for e in _CLAUSE_RE.finditer(body)
                if body.count("(", 0, e.start()) == body.count(")", 0, e.start())
            ),
            len(body),
        )
        return tail.unmask(body[:end]).strip()

    def key_tuple(raw: str | None) -> tuple[str, ...]:
        if not raw or raw.lower() == "tuple()":
            return ()
        masked = Masked(raw).text
        if masked.startswith("(") and close_paren(masked, 0) == len(masked) - 1:
            raw = raw[1:-1]  # a tuple of keys, not `(a + b) * 2`
        # columns or expression keys (e.g. toYYYYMM(dt), k % 2)
        return tuple(k for k in split_top(raw) if k)

    engine = m.group("engine")
    raw_args = m.group("engine_args") or ""
    eargs = [a for a in split_top(raw_args) if a]
    td = TableDef(  # engine args kept verbatim for Buffer/Kafka/Join engines

        name=m.group("name"),
        engine=re.sub(r"^Replicated", "", engine),  # replication = storage layer
        # PRIMARY KEY without ORDER BY (hw02.sql:22) defines the sort key
        # (in CH the PK defaults to the sort key and vice versa)
        order_by=key_tuple(clause("ORDER\\s+BY") or clause("PRIMARY\\s+KEY")),
        partition_by=key_tuple(clause("PARTITION\\s+BY")),
        columns=columns,
    )
    if engine.startswith("Replicated"):
        # ReplicatedXMergeTree('/zk/path', '{replica}'[, x-engine args…])
        # (hw09.md:318-319): record replication identity for
        # system.replicas / SHOW CREATE, then hand the REMAINING args to
        # the family-specific parsing below (ver/sign columns)
        td.settings["replicated"] = True
        td.settings["engine_full"] = (
            f"{engine}({raw_args.strip()})" if raw_args.strip() else engine
        )
        if len(eargs) >= 2 and unquote(eargs[0]).startswith("/"):
            td.settings["zookeeper_path"] = unquote(eargs[0])
            td.settings["replica_macro"] = unquote(eargs[1])
            eargs = eargs[2:]
    base = td.engine
    if base == "ReplacingMergeTree" and eargs:
        td.version = eargs[0]
    elif base == "CollapsingMergeTree" and eargs:
        td.sign = eargs[0]
    elif base == "VersionedCollapsingMergeTree" and len(eargs) >= 2:
        td.sign, td.version = eargs[0], eargs[1]
    elif base == "SummingMergeTree" and eargs:
        td.sum_columns = tuple(a.strip("()") for a in eargs)
    tm = re.search(r"\bTTL\s+(.+?)(?=\bSETTINGS\b|$)", rest, re.IGNORECASE | re.DOTALL)
    if tm:
        td.ttl, action = split_ttl_action(tm.group(1).strip())
        if action:
            td.settings["ttl_action"] = action
    sm = re.search(r"\bSETTINGS\s+(.+)$", rest, re.IGNORECASE | re.DOTALL)
    if sm:
        # SETTINGS k = v, … (hw02.sql:23 index_granularity; hw13.md table
        # storage_policy): recorded verbatim — storage_policy ties the
        # table to a system.storage_policies entry
        tbl_settings = {}
        for part in sm.group(1).split(","):
            if "=" in part:
                k, v = part.split("=", 1)
                tbl_settings[k.strip()] = unquote(v)
        if tbl_settings:
            td.settings["table_settings"] = tbl_settings
    if eargs:
        td.settings["engine_args"] = eargs
    return td
