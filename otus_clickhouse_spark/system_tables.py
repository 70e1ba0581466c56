"""The ``system.*`` tables (D8; lectures/lecture_02.md:197-276,
lecture_20.md:296-478): one catalog entry per table.

An entry is the table's DDL schema (every column, in order), a function
from the :class:`~otus_clickhouse_spark.engine.Engine` to its rows and a
``protected`` flag: access-control metadata is readable only with an
explicit SELECT grant (hw12.md:53-61 ACCESS_DENIED golden), the rest is
readable for introspection. ``Engine.system(name)`` builds the frame.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import re
import time
import uuid
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass
from urllib.parse import unquote as unescape_path

from pyspark.errors import AnalysisException
from pyspark.sql.types import TimestampType


@dataclass(frozen=True)
class SystemTable:
    schema: str
    rows: Callable[..., list[tuple]]
    protected: bool = False


CATALOG: dict[str, SystemTable] = {}


def _entry(name: str, schema: str, protected: bool = False):
    """Register the decorated ``rows(engine)`` as ``system.<name>``."""

    def register(rows):
        CATALOG[name] = SystemTable(schema, rows, protected)
        return rows

    return register


# lecture_18.md:538
@_entry("quotas", "quota_name string, duration bigint, apply_to string", protected=True)
def _quotas(engine):
    return [
        (n, q["interval_s"], ",".join(sorted(q["to"]))) for n, q in sorted(engine._quotas.items())
    ]


# lecture_18.md:506-533
@_entry(
    "quota_limits",
    "quota_name string, duration bigint, max_queries bigint, max_errors bigint, "
    "max_result_rows bigint",
    protected=True,
)
def _quota_limits(engine):
    return [
        (n, q["interval_s"], q["max"].get("queries"), q["max"].get("errors"),
         q["max"].get("result_rows"))
        for n, q in sorted(engine._quotas.items())
    ]


# lecture_18.md:56; hw12.md:72-80 golden (name + auth_type)
@_entry("users", "name string, auth_type string, storage string", protected=True)
def _users(engine):
    auth = engine._user_auth
    return [(u, auth.get(u, "no_password"), "local_directory") for u in sorted(engine._users)]


# hw12.md:31-38 golden; the id is a UUID of the name (CH's is random at CREATE)
@_entry("roles", "name string, id string, storage string", protected=True)
def _roles(engine):
    return [
        (r, str(uuid.uuid5(uuid.NAMESPACE_OID, "role:" + r)), "local_directory")
        for r in sorted(engine._roles)
    ]


# lecture_18.md:195
@_entry(
    "role_grants", "user_name string, granted_role_name string, active boolean", protected=True
)
def _role_grants(engine):
    return [
        (u, r, r in engine._active_roles.get(u, set()))
        for u, roles in sorted(engine._role_grants.items())
        for r in sorted(roles)
    ]


# lecture_18.md:134-216; hw12.md:83-107: the grantee is a user_name or a role_name
@_entry(
    "grants",
    "user_name string, role_name string, access_type string, database string, "
    "table string, column string, is_partial_revoke int, grant_option int",
    protected=True,
)
def _grants(engine):
    return [
        (
            grantee if grantee not in engine._roles else None,
            grantee if grantee in engine._roles else None,
            priv, None if db == "*" else db, None if tbl == "*" else tbl, None, 0, 0,
        )
        for priv, db, tbl, grantee in engine._grants
    ]


# D14; hw19.md:37-48, secrets masked as SHOW NAMED COLLECTIONS does
@_entry("named_collections", "name string, collection string")
def _named_collections(engine):
    return [
        (name, ", ".join(f"{k} = {'[HIDDEN]' if 'pass' in k else v}" for k, v in kv.items()))
        for name, kv in sorted(engine._named_collections.items())
    ]


# lecture_15.md:74-83; hw10.md:14-24: one row per (cluster, shard)
@_entry("clusters", "cluster string, shard_num int, replica_num int, host_name string, port int")
def _clusters(engine):
    return [
        (name, s, 1, "localhost", 9000)
        for name, shards in sorted(engine._clusters.items())
        for s in range(1, shards + 1)
    ]


# hw09.md:295-325 getMacro('replica')
@_entry("macros", "macro string, substitution string")
def _macros(engine):
    return sorted(engine.macros.items())


# hw09.md:10-20: this engine leads its own data; replicas = widest cluster
@_entry(
    "replicas",
    "database string, table string, engine string, is_leader int, is_readonly int, "
    "zookeeper_path string, replica_name string, replica_path string, "
    "total_replicas int, active_replicas int",
)
def _replicas(engine):
    n_rep = max(engine._clusters.values(), default=1)
    replica = engine.macros.get("replica", "replica_1")
    rows = []
    for name, td in sorted(engine.tables.items()):
        if not td.settings.get("replicated"):
            continue
        zk = td.settings.get("zookeeper_path", f"/clickhouse/tables/{{shard}}/{name}")
        for macro, sub in engine.macros.items():
            zk = zk.replace("{" + macro + "}", sub)
        engine_full = td.settings.get("engine_full", td.engine)
        rows.append(("default", name, engine_full, 1, 0, zk, replica,
                     f"{zk}/replicas/{replica}", n_rep, n_rep))
    return rows


# hw13.md:15-27 golden
@_entry("storage_policies", "policy_name string, volume_name string, disks array<string>")
def _storage_policies(engine):
    return engine.storage_policies


# D1; hw19.md:88-95 SHOW DATABASES golden lists both INFORMATION_SCHEMA spellings
@_entry("databases", "name string, engine string")
def _databases(engine):
    builtin = {"system": "System", "INFORMATION_SCHEMA": "Memory", "information_schema": "Memory"}
    return [
        (d, builtin.get(d) or engine._database_engines.get(d, "Atomic"))
        for d in sorted(engine._databases | set(builtin))
    ]


# hw13.md:78,123: one row per BACKUP/RESTORE
@_entry(
    "backups", "id string, name string, status string, start_time timestamp, end_time timestamp"
)
def _backups(engine):
    return engine._backups


# lecture_12.md:62-212: Spark conf, then session SET overrides
@_entry("settings", "name string, value string")
def _settings(engine):
    conf = [(k, str(v)) for k, v in engine.spark.sparkContext.getConf().getAll()]
    return conf + list(engine.session_settings.items())


# lecture_09.md async-insert probe: MergeTree defaults and their Spark analogues
_entry("merge_tree_settings", "name string, value string, description string")(lambda engine: [
    ("index_granularity", "8192", "row-group/page granule analogue"),
    ("max_bytes_to_merge_at_max_space_in_pool", "161061273600", "compaction target size"),
    ("parts_to_throw_insert", "3000", "small-files backpressure"),
    ("old_parts_lifetime", "480", "compacted-file GC delay"),
    ("merge_with_ttl_timeout", "14400", "TTL sweep cadence"),
])


def _sizes(path) -> tuple[int, int, int, int]:
    """(rows, compressed bytes, uncompressed bytes, has_data) from parquet
    footers: metadata reads only, never data pages."""
    import pyarrow.parquet as pq

    if not path or not os.path.exists(path):
        return 0, 0, 0, 0
    files = [path] if os.path.isfile(path) else [
        os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    ]
    n = comp = uncomp = 0
    for f in files:
        meta = pq.ParquetFile(f).metadata
        n += meta.num_rows
        comp += os.path.getsize(f)
        uncomp += sum(meta.row_group(i).total_byte_size for i in range(meta.num_row_groups))
    return n, comp, uncomp, int(bool(files))


# lecture_02.md:197-276; CH names/types, hw08.md size probe, `table` aliases name
@_entry(
    "tables",
    "database string, name string, uuid string, engine string, data_paths array<string>, "
    "metadata_path string, primary_key string, sorting_key string, partition_key string, "
    "comment string, total_rows long, total_bytes long, total_bytes_uncompressed long, "
    "has_own_data int, table string",
)
def _tables(engine):
    rows = []
    for t in engine.tables.values():
        db, base = engine._split_db(t.name)
        rows.append((
            db, base, hashlib.md5(t.name.encode()).hexdigest(), t.engine,
            [t.path] if t.path else [], os.path.join("spark-warehouse", f"{t.name}.def"),
            ",".join(t.order_by), ",".join(t.order_by), ",".join(t.partition_by), t.comment,
            *_sizes(t.path), base,
        ))
    return rows


# lecture_08.md:273-377, one row per file; cold volumes lecture_14.md:233; hw11.md golden
@_entry(
    "parts",
    "table string, name string, partition string, partition_id string, disk_name string, "
    "path string, bytes_on_disk long, active int, removal_state string NOT NULL",
)
def _parts(engine):
    removal = "Part hasn't begun to be removed"  # listed files are live
    rows = []
    for t in engine.tables.values():
        if not t.path or not os.path.exists(t.path):
            continue
        if os.path.isfile(t.path):
            size = os.path.getsize(t.path)
            rows.append((t.name, os.path.basename(t.path), "all", "all", "default", t.path,
                         size, 1, removal))
            continue
        cold = [(cp, vol) for vol, cp in t.settings.get("cold_volumes", {}).items()]
        types = {c.name: c.spark_type for c in t.columns or ()}
        keys = [n for _, n in t.keys("partition", types)]
        for tier_path, disk in [(t.path, "default"), *cold]:
            if not os.path.isdir(tier_path):
                continue
            for root, _dirs, files in os.walk(tier_path):
                for f in files:
                    if f.endswith(".parquet"):
                        p = os.path.join(root, f)
                        rel = os.path.relpath(p, tier_path)
                        # the value of each key's `<column>=<value>` directory,
                        # unescaped: `202401`, or `(1,'a b/c')` with the id `1-a b/c`
                        dirs = dict(d.split("=", 1) for d in rel.split(os.sep)[:-1] if "=" in d)
                        values = [unescape_path(dirs.get(k, "")) for k in keys] or ["all"]
                        shown = [_tuple_item(v, types.get(k)) for k, v in zip(keys, values)]
                        part = values[0] if len(values) == 1 else f"({','.join(shown)})"
                        rows.append((t.name, rel, part, "-".join(values), disk, p,
                                     os.path.getsize(p), 1, removal))
    return rows


def _tuple_item(value: str, spark_type: str | None) -> str:
    """A partition value as ClickHouse prints it in a tuple: a number
    bare, anything else (a string, a date, a time) quoted."""
    if spark_type != "string" and re.fullmatch(r"-?\d+(?:\.\d+)?", value):
        return value
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


# lecture_02.md:197-276: one row per listed column, in declared order,
# with its declared type and its DEFAULT/MATERIALIZED/ALIAS kind
@_entry(
    "columns",
    "table string, name string, type string, default_kind string, default_expression string",
)
def _columns(engine):
    rows = []
    for t in engine.tables.values():
        try:
            fields = engine.table(t.name).schema.fields
        except AnalysisException as exc:
            # a registered name without a view has no columns to list
            if exc.getCondition() != "TABLE_OR_VIEW_NOT_FOUND":
                raise
            continue
        if t.columns is None:
            rows += [(t.name, f.name, f.dataType.simpleString(), "", "") for f in fields]
            continue
        # an ALIAS declared without a type has the type of its value
        view = {f.name: f.dataType for f in fields}
        for c in t.columns:
            dtype = c.field.dataType if c.spark_type else view[c.name]
            rows.append((t.name, c.name, dtype.simpleString(), c.kind, c.expr or ""))
    return rows


# lecture_08.md:225
@_entry("data_skipping_indices", "table string, name string, expr string, type string")
def _data_skipping_indices(engine):
    return [
        (t, i, expr, itype)
        for t, td in engine.tables.items()
        for i, (expr, itype) in td.skip_indexes.items()
    ]


# lecture_13.md projection inspection: one row per (projection, column)
@_entry(
    "projection_parts_columns",
    "name string, table string, parent_name string, rows long, active int, "
    "column string, type string, column_position int",
)
def _projection_parts_columns(engine):
    rows = []
    for p in engine.projections.projections.values():
        n = int(p.df.count()) if p.df is not None else 0
        for pos, col in enumerate([*p.group_keys, *p.aggs], 1):
            rows.append((p.name, p.table, f"{p.table}_all", n, 1, col, "", pos))
    return rows


# lecture_11.md:312,356-390: CH's dotted column names; LOADED at CREATE
@_entry(
    "dictionaries",
    "database string, name string, uuid string, status string, "
    "`key.names` array<string>, `key.types` array<string>, "
    "`attribute.names` array<string>, `attribute.types` array<string>, "
    "element_count long, source string",
)
def _dictionaries(engine):
    rows = []
    for name, d in sorted(engine._dictionaries.items()):
        attrs = [f for f in d.df.schema.fields if f.name != d.key]
        key_types = [f.dataType.simpleString() for f in d.df.schema.fields if f.name == d.key]
        rows.append((
            "default", name, str(uuid.uuid5(uuid.NAMESPACE_OID, "dict:" + name)), "LOADED",
            [d.key], key_types, [f.name for f in attrs],
            [f.dataType.simpleString() for f in attrs], d.df.count(),
            engine._dict_sources.get(name, ("", []))[0],
        ))
    return rows


# lecture_06.md:112-119: user lambdas, then the ClickHouse-named SQL UDFs
@_entry("functions", "name string, origin string, create_query string")
def _functions(engine):
    from otus_clickhouse_spark.functions.clickhouse import AGGREGATE_ALIASES, SCALAR_ALIASES

    rows = [
        (n, "SQLUserDefined", f"CREATE FUNCTION {n} AS ({', '.join(ps)}) -> {body}")
        for n, (ps, body) in engine._sql_macros.items()
    ]
    return rows + [(n, "System", "") for n in [*SCALAR_ALIASES, *AGGREGATE_ALIASES]]


# lecture_22.md:1-4: the built-in dashboard's queries, over this engine's tables
_entry("dashboards", "dashboard string, title string, query string")(lambda engine: [
    ("Overview", "Queries/second", "SELECT count(*) FROM system.query_log"),
    ("Overview", "Selected rows/second",
     "SELECT value FROM system.events WHERE event = 'SelectedRows'"),
    ("Overview", "Inserted rows/second",
     "SELECT value FROM system.events WHERE event = 'InsertedRows'"),
    ("Overview", "Total MergeTree parts", "SELECT count(*) FROM system.parts"),
])


def _failed(engine) -> list[tuple]:
    failed = ("ExceptionWhileProcessing", "ExceptionBeforeStart")
    return [q for q in engine._query_log if q[1] in failed]


# lecture_20.md:296-478; the CH-named companions serve lecture_20.md:828-843
@_entry(
    "query_log",
    "query string, type string, event_time timestamp, event_date date, duration_sec double, "
    "result_rows long, exception string, tables array<string>, query_start_time timestamp, "
    "query_duration_ms long, read_rows long, read_bytes long NOT NULL, "
    "memory_usage long NOT NULL, exception_code int NOT NULL, _shard_num int NOT NULL",
)
def _query_log(engine):
    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    rows = []
    for q in engine._query_log:
        event_time, duration, n_rows, exc = q[2], q[4], q[5], q[6]
        # start: event_time in whole seconds (as unix_timestamp floors it)
        # minus the duration, truncated to microseconds
        seconds = TimestampType().toInternal(event_time) // 1_000_000
        start = epoch + datetime.timedelta(microseconds=int((seconds - duration) * 1e6))
        # read_rows is the result size: scan I/O is not metered
        rows.append((*q, start, int(duration * 1000), n_rows, 0, 0, int(exc != ""), 1))
    return rows


# lecture_20.md:790-798 failure sweep; replication classes are 0 on one JVM
@_entry(
    "metric_log",
    "hostname string, event_time timestamp, event_date date, ProfileEvent_FailedQuery long, "
    "ProfileEvent_FailedSelectQuery long, ProfileEvent_FailedInsertQuery long, "
    "ProfileEvent_ReplicatedPartFailedFetches long, ProfileEvent_ReplicatedPartChecksFailed long, "
    "ProfileEvent_DistributedConnectionFailTry long, ProfileEvent_ReplicatedDataLoss long",
)
def _metric_log(engine):
    failed = _failed(engine)
    n_sel = sum(1 for q in failed if re.match(r"\s*(SELECT|WITH)\b", q[0], re.IGNORECASE))
    n_ins = sum(1 for q in failed if re.match(r"\s*INSERT\b", q[0], re.IGNORECASE))
    now = datetime.datetime.now()
    return [("localhost", now, now.date(), len(failed), n_sel, n_ins, 0, 0, 0, 0)]


# lecture_20.md:337-349: exception classes from the query log, with counts
@_entry(
    "errors", "name string, value long, last_error_message string, last_error_time timestamp"
)
def _errors(engine):
    errs = [(q[6].split(":")[0].strip() or "UNKNOWN", q[6], q[2]) for q in _failed(engine)]
    counts = Counter(name for name, _, _ in errs)
    last = {name: (msg, ts) for name, msg, ts in errs}
    return [(name, int(n), last[name][0][:200], last[name][1]) for name, n in counts.items()]


# lecture_20.md:296-478: cumulative engine counters
@_entry("events", "event string, value long")
def _events(engine):
    with engine._events_lock:
        return sorted(engine._events.items())


# lecture_20.md:497-529: current gauges, the Prometheus-exporter surface
@_entry("metrics", "metric string, value long")
def _metrics(engine):
    return [
        ("Query", len(engine._processes)),
        ("TablesRegistered", len(engine.tables)),
        ("DictionariesRegistered", len(engine._dictionaries)),
        ("MaterializedViews", sum(len(v) for v in engine._mvs.values())),
    ]


# lecture_20.md:252-308: sampled host gauges, where the platform has them
@_entry("asynchronous_metrics", "metric string, value double")
def _asynchronous_metrics(engine):
    rows = []
    try:
        la1, la5, la15 = os.getloadavg()
        rows += [("LoadAverage1", la1), ("LoadAverage5", la5), ("LoadAverage15", la15)]
    except OSError:
        pass
    try:
        with open("/proc/self/status") as f:
            rss = next((line.split()[1] for line in f if line.startswith("VmRSS:")), None)
        if rss is not None:
            rows.append(("MemoryResident", float(rss) * 1024))
    except OSError:
        pass
    uptime = time.time() - engine._started_at
    return rows + [("Uptime", uptime), ("NumberOfTables", float(len(engine.tables)))]


# lecture_16.md:328-336: queries inside Engine.run, with the id KILL QUERY takes
@_entry("processes", "query_id string, query string, elapsed double")
def _processes(engine):
    now = time.time()
    return [(qid, text, round(now - t0, 3)) for qid, (text, t0) in engine._processes.items()]


# lecture_16.md:60-98; synchronous, so done and never failed (lecture_20.md:817-821)
@_entry(
    "mutations",
    "command string, table string, mutation_id string, finished_at double, is_done int, "
    "latest_fail_reason string NOT NULL, latest_fail_time timestamp",
)
def _mutations(engine):
    rows = []
    for i, (s, ts, _status) in enumerate(engine._mutations_log):
        tm = re.search(r"\bTABLE\s+(\w+)", s, re.IGNORECASE)
        rows.append((s, tm.group(1) if tm else "", f"mutation_{i}.txt", float(ts), 1, "", None))
    return rows


# lecture_20.md:320-334: OPTIMIZE and mutations are synchronous, none in flight
_entry(
    "merges",
    "database string, table string, elapsed double, progress double, rows_read long, "
    "is_mutation int, merge_type string",
)(lambda engine: [])
# lecture_20.md:823-827: one JVM has no replication queue
_entry(
    "replication_queue",
    "table string, replica_name string, node_name string, merge_type string, "
    "last_exception string, last_attempt_time timestamp",
)(lambda engine: [])
# hw14.md:36-41: no sampling profiler feeds it
_entry(
    "trace_log",
    "event_time timestamp, event_date date, trace_type string, query_id string, size long",
)(lambda engine: [])
