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

import copy
import re
from dataclasses import dataclass

from otus_clickhouse_spark.engine import Column, TableDef
from otus_clickhouse_spark.functions.lexer import (
    LIT,
    Masked,
    close_paren,
    split_top,
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


_HEAD_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?:\w+\.)?(?P<name>\w+)\s*",
    re.IGNORECASE,
)
_ENGINE_RE = re.compile(r"\bENGINE\s*=?\s*(\w+)\s*", re.IGNORECASE)
_AS_RE = re.compile(r"\bAS\b", re.IGNORECASE)
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


def key_tuple(body: str) -> tuple[str, ...]:
    """The items of a key or a partition value: ``tuple()`` is none;
    ``(a, f(b))`` and ``tuple(a, f(b))`` are a tuple, not ``(a + b) * 2``;
    anything else is one item (``toYYYYMM(dt)``, ``k % 2``). The keys of
    ORDER BY, PRIMARY KEY and PARTITION BY, in CREATE TABLE and in
    MODIFY ORDER BY, and the values of ``PARTITION <value>`` read so."""
    lits = Masked(body)
    text = lits.text.strip()
    m = re.match(r"(?i)(?:tuple\s*)?\(", text)
    if m and close_paren(text, m.end() - 1) == len(text) - 1:
        text = text[m.end() : -1]
    return tuple(lits.unmask(k) for k in split_top(text) if k)


# the TableDef fields and settings keys each clause of a CREATE TABLE sets
_CLAUSE_FIELDS = {
    "columns": ("columns",),
    "engine": ("engine", "version", "sign", "sum_columns", "engine_args", "replicated",
               "engine_full", "zookeeper_path", "replica_macro"),
    "order_by": ("order_by",),
    "partition_by": ("partition_by",),
    "ttl": ("ttl", "ttl_action"),
    "settings": ("table_settings",),
}


@dataclass
class CreateTable:
    """A parsed CREATE TABLE: the table it defines, the source its
    ``AS`` names (a SELECT, ``[db.]table`` or ``system.x``) and the
    clauses it spells out (keys of ``_CLAUSE_FIELDS``)."""

    td: TableDef
    source: str | None = None
    if_not_exists: bool = False
    named: frozenset[str] = frozenset()

    @property
    def select(self) -> bool:
        return bool(self.source and re.match(r"(?:SELECT|WITH)\b", self.source, re.IGNORECASE))

    def over(self, base: TableDef) -> TableDef:
        """A copy of ``base`` (an ``AS table`` source's definition) with
        the clauses this statement names in place of the source's."""
        td = copy.deepcopy(base)
        td.name = self.td.name
        for f in (f for clause in self.named for f in _CLAUSE_FIELDS[clause]):
            if hasattr(td, f):
                setattr(td, f, getattr(self.td, f))
            elif f in self.td.settings:
                td.settings[f] = self.td.settings[f]
            else:
                td.settings.pop(f, None)
        return td


def parse_create_table(ddl: str) -> CreateTable:
    """Parse a CH CREATE TABLE in any of its forms (D2): an optional
    column list, an optional ENGINE clause with its keys, TTL and
    SETTINGS, and an optional source ``AS <SELECT…|WITH…|[db.]table|
    system.x>`` before or after the engine clause (hw03.md:123-166,
    lecture_16.md:230, hw09.md:141-144, hw14.md:30).

    Column attributes (lecture_12.md:14-47): ``DEFAULT expr`` fills the
    column when an INSERT omits it; ``MATERIALIZED expr`` is always
    computed at insert (not writable); ``ALIAS expr`` is virtual —
    excluded from the stored schema and recomputed per query by the
    engine's view registration.
    """
    lits = Masked(ddl)
    text = lits.text.strip().rstrip(";")
    m = _HEAD_RE.match(text)
    if not m:
        raise ValueError("not a CREATE TABLE statement")
    named, rest, columns, source = set(), text[m.end() :], None, None
    if rest.startswith("("):
        end = close_paren(rest, 0)
        # secondary indexes/projections: D9/D10 handled elsewhere
        other = re.compile(r"^(INDEX|PROJECTION|CONSTRAINT|PRIMARY\s+KEY)\b", re.IGNORECASE)
        columns = tuple(
            column_def(lits.unmask(item))
            for item in split_top(rest[1:end])
            if item and not other.match(item)
        )
        named.add("columns")
        rest = rest[end + 1 :]

    def top(text: str, i: int) -> bool:
        return text.count("(", 0, i) == text.count(")", 0, i)

    am = next((a for a in _AS_RE.finditer(rest) if top(rest, a.start())), None)
    if am:
        body = rest[am.end() :].strip()
        sm = re.match(r"(?:SELECT|WITH)\b|(?:\w+\.)?\w+", body, re.IGNORECASE)
        if sm is None:
            raise ValueError("CREATE TABLE … AS: expected a SELECT or a table")
        if sm.group().upper() in ("SELECT", "WITH"):
            source, rest = lits.unmask(body), rest[: am.start()]
        else:
            source, rest = sm.group(), rest[: am.start()] + " " + body[sm.end() :]
    if columns is None and source is None:
        raise ValueError("CREATE TABLE needs a column list or an AS source")

    engine, raw_args = "MergeTree", ""
    em = _ENGINE_RE.search(rest)
    if em:
        named.add("engine")
        engine, after = em.group(1), em.end()
        if rest.startswith("(", after):
            end = close_paren(rest, after)
            raw_args, after = lits.unmask(rest[after + 1 : end]).strip(), end + 1
        rest = rest[: em.start()] + " " + rest[after:]

    def clause(kw: str) -> str | None:
        # a clause runs up to the next table clause outside parentheses:
        # `PARTITION BY k % 2 ORDER BY k`
        cm = re.search(rf"\b{kw}\s+", rest, re.IGNORECASE)
        if not cm:
            return None
        body = rest[cm.end() :]
        end = next(
            (e.start() for e in _CLAUSE_RE.finditer(body) if top(body, e.start())), len(body)
        )
        return body[:end].strip()

    # PRIMARY KEY without ORDER BY (hw02.sql:22) defines the sort key
    # (in CH the PK defaults to the sort key and vice versa)
    order_by = clause("ORDER\\s+BY") or clause("PRIMARY\\s+KEY")
    partition_by = clause("PARTITION\\s+BY")
    named |= {k for k, v in (("order_by", order_by), ("partition_by", partition_by)) if v}
    td = TableDef(
        name=m.group("name"),
        engine=re.sub(r"^Replicated", "", engine),  # replication = storage layer
        order_by=key_tuple(lits.unmask(order_by or "")),
        partition_by=key_tuple(lits.unmask(partition_by or "")),
        columns=columns,
    )
    # engine args kept verbatim for Buffer/Kafka/Join engines
    eargs = [a for a in split_top(raw_args) if a]
    if engine.startswith("Replicated"):
        # ReplicatedXMergeTree('/zk/path', '{replica}'[, x-engine args…])
        # (hw09.md:318-319): record replication identity for
        # system.replicas / SHOW CREATE, then hand the REMAINING args to
        # the family-specific parsing below (ver/sign columns)
        td.settings["replicated"] = True
        td.settings["engine_full"] = f"{engine}({raw_args})" if raw_args else engine
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
    if eargs:
        td.settings["engine_args"] = eargs
    ttl = clause("TTL")
    if ttl:
        named.add("ttl")
        td.ttl, action = split_ttl_action(lits.unmask(ttl))
        if action:
            td.settings["ttl_action"] = action
    settings = clause("SETTINGS")
    if settings:
        # SETTINGS k = v, … (hw02.sql:23 index_granularity; hw13.md table
        # storage_policy; the Kafka engine's kafka_*): recorded verbatim —
        # storage_policy ties the table to a system.storage_policies entry
        named.add("settings")
        pairs = [p.split("=", 1) for p in split_top(settings) if "=" in p]
        td.settings["table_settings"] = {k.strip(): lits.value(v) for k, v in pairs}
    return CreateTable(td, source, bool(m.group("ine")), frozenset(named))
