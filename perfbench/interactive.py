"""``interactive_sql``: ClickHouse-dialect statements over HTTP.

Two clients in a closed loop POST statements to an in-process
``http_server.serve`` on 127.0.0.1. At sf0.01 execution is a few small
Spark jobs, so the fixed per-statement path (HTTP, run_query
bookkeeping, dialect translation, analysis, job scheduling, rendering)
is most of the latency.

The seed fixes the order of the statements, each template's literal
(drawn from a small set per template, so some texts repeat the way a
dashboard refresh does) and the output format. Every response is
parsed back and compared with an answer computed by DuckDB over the
same parquet files, or from the registry oracle the statement mirrors.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass

from perfbench.common import (
    Outcome,
    duckdb_over,
    hd_median,
    latency_summary,
    per_key_geomean_ms,
)
from perfbench.defects import FRONT_END, defect_detail, run_known_defects
from perfbench.trace import OP_HEADER

SF = 0.01
CLIENTS = 2
MIN_ROUNDS = 1
FORMATS = ("TabSeparated", "JSONEachRow", "PrettyCompact")

SETUP_SQL = [
    "CREATE TABLE user_state (user_id UInt32, version UInt32, status String) "
    "ENGINE = ReplacingMergeTree(version) ORDER BY user_id",
    "INSERT INTO user_state SELECT toUInt32(number) AS user_id, toUInt32(1) AS version, "
    "if(number % 3 = 0, 'active', 'idle') AS status FROM numbers(2000)",
    "INSERT INTO user_state SELECT toUInt32(number * 2) AS user_id, toUInt32(2) AS version, "
    "if(number % 5 = 0, 'banned', 'active') AS status FROM numbers(700)",
    "CREATE DICTIONARY nation_dict (n_nationkey UInt32, n_name String) "
    "PRIMARY KEY n_nationkey SOURCE(CLICKHOUSE(TABLE 'nation')) LAYOUT(FLAT()) LIFETIME(300)",
]

# DuckDB equivalent of user_state after the two inserts, collapsed the
# way ReplacingMergeTree(version) FINAL collapses it
USER_STATE_FINAL = """(
  SELECT * FROM (
    SELECT range AS user_id, 1 AS version,
           CASE WHEN range % 3 = 0 THEN 'active' ELSE 'idle' END AS status FROM range(2000)
    UNION ALL
    SELECT range * 2, 2, CASE WHEN range % 5 = 0 THEN 'banned' ELSE 'active' END FROM range(700))
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY version DESC) = 1)"""


@dataclass(frozen=True)
class Template:
    name: str
    sql: str  # ClickHouse dialect, sent over HTTP
    literals: tuple  # dicts of format arguments; the seed picks one
    # DuckDB SQL giving the expected rows (same format arguments), or
    # "registry:<query>" for the registry oracle the statement mirrors,
    # or "state:<kind>" for answers taken from the set-up itself
    expect: str


def _lits(key, values):
    return tuple({key: v} for v in values)


TEMPLATES: tuple[Template, ...] = (
    Template(
        "q01_agg",
        "SELECT l_returnflag, l_linestatus, count() AS n, countIf(l_discount > {d}) AS disc, "
        "uniqExact(l_orderkey) AS orders, round(sum(l_extendedprice), 2) AS price "
        "FROM lineitem WHERE l_shipdate <= toDate('{day}') "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        ({"d": 0.02, "day": "1996-06-17"}, {"d": 0.05, "day": "1998-09-02"},
         {"d": 0.08, "day": "1999-01-01"}),
        "SELECT l_returnflag, l_linestatus, count(*), count(*) FILTER (WHERE l_discount > {d}), "
        "count(DISTINCT l_orderkey), round(sum(l_extendedprice), 2) FROM lineitem "
        "WHERE l_shipdate <= DATE '{day}' GROUP BY ALL",
    ),
    Template(
        "q01_quantile",
        "SELECT l_linestatus, count() AS n, quantile(0.5)(l_quantity) AS med_qty "
        "FROM lineitem WHERE l_discount >= {d} GROUP BY l_linestatus ORDER BY l_linestatus",
        _lits("d", (0.0, 0.03, 0.06)),
        "SELECT l_linestatus, count(*), quantile_cont(l_quantity, 0.5) FROM lineitem "
        "WHERE l_discount >= {d} GROUP BY ALL",
    ),
    Template(
        "h04",
        "SELECT o.o_orderpriority, count() AS order_count FROM orders o "
        "WHERE o.o_orderdate >= toDateTime('1996-07-01 00:00:00') "
        "AND o.o_orderdate < toDateTime('1996-10-01 00:00:00') "
        "AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey "
        "AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) GROUP BY o.o_orderpriority",
        ({},),
        "registry:h04_late_order_priority",
    ),
    Template(
        "h17",
        "SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly FROM lineitem l "
        "JOIN part p ON p.p_partkey = l.l_partkey WHERE p.p_brand = 'Brand#11' "
        "AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2 "
        "WHERE l2.l_partkey = l.l_partkey)",
        ({},),
        "registry:h17_small_quantity_revenue",
    ),
    Template(
        "h21",
        "WITH ordinfo AS (SELECT l_orderkey, max(l_shipdate) AS max_ship, "
        "uniqExact(l_suppkey) AS n_supp FROM lineitem GROUP BY l_orderkey) "
        "SELECT s.s_name, count() AS numwait FROM lineitem l "
        "JOIN ordinfo oi ON oi.l_orderkey = l.l_orderkey AND l.l_shipdate = oi.max_ship "
        "JOIN orders o ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F' "
        "JOIN supplier s ON s.s_suppkey = l.l_suppkey WHERE oi.n_supp >= 2 "
        "GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 20",
        ({},),
        "registry:h21_waiting_suppliers",
    ),
    Template(
        "limit_by",
        "SELECT o_custkey, o_orderkey, o_totalprice FROM orders WHERE o_custkey <= {c} "
        "ORDER BY o_custkey, o_totalprice DESC, o_orderkey LIMIT 2 BY o_custkey",
        _lits("c", (50, 120, 300)),
        "SELECT o_custkey, o_orderkey, o_totalprice FROM (SELECT *, row_number() OVER "
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders "
        "WHERE o_custkey <= {c}) WHERE rn <= 2",
    ),
    Template(
        "final",
        "SELECT status, count() AS n, sum(version) AS v FROM user_state FINAL "
        "WHERE user_id % {m} = 0 GROUP BY status ORDER BY status",
        _lits("m", (1, 2, 3, 7)),
        "SELECT status, count(*), sum(version) FROM " + USER_STATE_FINAL
        + " WHERE user_id % {m} = 0 GROUP BY status",
    ),
    Template(
        "array_join",
        "SELECT word, count() AS n FROM documents ARRAY JOIN splitByChar(' ', text) AS word "
        "WHERE lang = '{lang}' GROUP BY word ORDER BY n DESC, word LIMIT 10",
        _lits("lang", ("en", "de", "fr")),
        "SELECT word, count(*) AS n FROM (SELECT unnest(string_split(text, ' ')) AS word "
        "FROM documents WHERE lang = '{lang}') GROUP BY word ORDER BY n DESC, word LIMIT 10",
    ),
    Template(
        "multi_if",
        "SELECT multiIf(o_totalprice < {a}, 'small', o_totalprice < {b}, 'medium', 'large') "
        "AS bucket, count() AS n FROM orders GROUP BY bucket ORDER BY bucket",
        ({"a": 50000, "b": 150000}, {"a": 100000, "b": 200000}, {"a": 20000, "b": 300000}),
        "SELECT CASE WHEN o_totalprice < {a} THEN 'small' WHEN o_totalprice < {b} "
        "THEN 'medium' ELSE 'large' END AS bucket, count(*) FROM orders GROUP BY bucket",
    ),
    Template(
        "to_yyyymm",
        "SELECT toYYYYMM(o_orderdate) AS month, count() AS n, round(sum(o_totalprice), 2) "
        "AS total FROM orders WHERE o_orderdate >= toDate('{day}') GROUP BY month "
        "ORDER BY month LIMIT 12",
        _lits("day", ("1995-03-01", "1997-06-01", "1999-11-01")),
        "SELECT year(o_orderdate) * 100 + month(o_orderdate) AS month, count(*), "
        "round(sum(o_totalprice), 2) FROM orders WHERE o_orderdate >= DATE '{day}' "
        "GROUP BY month ORDER BY month LIMIT 12",
    ),
    Template(
        "in_subquery",
        "SELECT count() AS n, round(sum(l_extendedprice), 2) AS price FROM lineitem "
        "WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '{p}')",
        _lits("p", ("1-URGENT", "3-MEDIUM", "5-LOW")),
        "SELECT count(*), round(sum(l_extendedprice), 2) FROM lineitem WHERE l_orderkey IN "
        "(SELECT o_orderkey FROM orders WHERE o_orderpriority = '{p}')",
    ),
    Template(
        "any_left_join",
        "SELECT c.c_mktsegment AS seg, count() AS n FROM orders AS o ANY LEFT JOIN customer "
        "AS c ON o.o_custkey = c.c_custkey WHERE o.o_totalprice > {x} GROUP BY seg ORDER BY seg",
        _lits("x", (10000, 100000, 250000)),
        "SELECT c.c_mktsegment AS seg, count(*) FROM orders AS o LEFT JOIN customer AS c "
        "ON o.o_custkey = c.c_custkey WHERE o.o_totalprice > {x} GROUP BY seg",
    ),
    Template(
        "dict_get",
        "SELECT dictGet('nation_dict', 'n_name', c_nationkey) AS nation, count() AS n "
        "FROM customer WHERE c_acctbal > {x} GROUP BY nation ORDER BY n DESC, nation LIMIT 5",
        _lits("x", (0, 2500, 7000)),
        "SELECT n.n_name AS nation, count(*) AS n FROM customer c JOIN nation n "
        "ON n.n_nationkey = c.c_nationkey WHERE c.c_acctbal > {x} GROUP BY nation "
        "ORDER BY n DESC, nation LIMIT 5",
    ),
    Template(
        "system_tables",
        "SELECT name FROM system.tables WHERE name IN ({names}) ORDER BY name",
        _lits("names", ("'lineitem', 'orders'", "'customer', 'user_state', 'part'",
                        "'nation', 'supplier', 'events'")),
        "state:system_tables",
    ),
    Template(
        "system_parts",
        "SELECT table, count() AS parts FROM system.parts WHERE table = '{t}' GROUP BY table",
        _lits("t", ("lineitem", "orders", "user_state")),
        "state:system_parts",
    ),
    Template(
        "system_query_log",
        "SELECT least(count(), 1) AS seen FROM system.query_log "
        "WHERE type = 'QueryFinish' AND query LIKE '%{word}%'",
        _lits("word", ("lineitem", "orders", "customer")),
        "state:one",
    ),
    Template(
        "point_lookup",
        "SELECT l_linenumber, l_quantity, l_returnflag FROM lineitem WHERE l_orderkey = {k} "
        "ORDER BY l_linenumber",
        _lits("k", (1, 7, 35, 66)),
        "SELECT l_linenumber, l_quantity, l_returnflag FROM lineitem WHERE l_orderkey = {k}",
    ),
    Template(
        "top_parts",
        "SELECT l_partkey, round(sum(l_quantity), 2) AS qty FROM lineitem "
        "WHERE l_returnflag = '{f}' GROUP BY l_partkey ORDER BY qty DESC, l_partkey LIMIT 10",
        _lits("f", ("A", "N", "R")),
        "SELECT l_partkey, round(sum(l_quantity), 2) AS qty FROM lineitem "
        "WHERE l_returnflag = '{f}' GROUP BY l_partkey ORDER BY qty DESC, l_partkey LIMIT 10",
    ),
    Template(
        "events_by_type",
        "SELECT event_type, count() AS n, uniqExact(user_id) AS users FROM events "
        "WHERE ts >= toDateTime('{t}') GROUP BY event_type ORDER BY event_type",
        _lits("t", ("2024-01-01 00:00:00", "2024-01-11 12:00:00", "2024-01-25 00:00:00")),
        "SELECT event_type, count(*), count(DISTINCT user_id) FROM events "
        "WHERE ts >= TIMESTAMP '{t}' GROUP BY ALL",
    ),
    Template(
        "segment_balance",
        "SELECT c_mktsegment, count() AS n, round(avg(c_acctbal), 2) AS bal FROM customer "
        "WHERE c_nationkey < {n} GROUP BY c_mktsegment ORDER BY c_mktsegment",
        _lits("n", (5, 12, 25)),
        "SELECT c_mktsegment, count(*), round(avg(c_acctbal), 2) FROM customer "
        "WHERE c_nationkey < {n} GROUP BY ALL",
    ),
)


@dataclass(frozen=True)
class Statement:
    template: str
    literal: int  # index into the template's literals
    fmt: str

    def text(self) -> str:
        t = TEMPLATE_BY_NAME[self.template]
        return t.sql.format(**t.literals[self.literal])


TEMPLATE_BY_NAME = {t.name: t for t in TEMPLATES}


def make_statements(seed: int, rounds: int) -> list[Statement]:
    """``rounds`` rounds; each round runs every template once in a
    seed-shuffled order, with a seed-drawn literal and output format."""
    rng = random.Random(seed)
    out = []
    for _ in range(rounds):
        order = list(TEMPLATES)
        rng.shuffle(order)
        for t in order:
            out.append(Statement(t.name, rng.randrange(len(t.literals)), rng.choice(FORMATS)))
    return out


# ------------------------------------------------------- result checking
def norm_cell(v) -> str:
    """Canonical text of one cell across DuckDB values and rendered text:
    numbers to 6 significant digits, integral values as integers."""
    if v is None or v == "\\N":
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):
        s = v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
        return s
    s = str(v).strip()
    try:
        x = float(s)
    except ValueError:
        return s
    if x == int(x) and abs(x) < 1e15:
        return str(int(x))
    return f"{x:.6g}"


def norm_rows(rows) -> list[tuple[str, ...]]:
    return sorted(tuple(norm_cell(v) for v in r) for r in rows)


def parse_body(body: str, fmt: str) -> list[tuple]:
    """Rows of a rendered result, as text cells (JSON values as decoded)."""
    lines = [ln for ln in body.split("\n") if ln != ""]
    if fmt == "TabSeparated":
        return [tuple(ln.split("\t")) for ln in lines]
    if fmt == "JSONEachRow":
        return [tuple(json.loads(ln).values()) for ln in lines]
    if fmt == "PrettyCompact":
        return [
            tuple(c.strip() for c in ln.strip()[1:-1].split("│"))
            for ln in lines
            if ln.startswith("│")
        ]
    raise ValueError(f"unknown format {fmt}")


def check_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """None when the two row sets match after normalisation, else a
    short description of the first difference."""
    g, w = norm_rows(got), norm_rows(want)
    if g == w:
        return None
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    for a, b in zip(g, w):
        if a != b:
            return f"row {a} != expected {b}"
    return "rows differ"


# ------------------------------------------------------------ expected
def expected_answers(engine, data_dir: str) -> dict[tuple[str, int], list[tuple]]:
    """Expected rows for every (template, literal) pair."""
    from otus_clickhouse_spark.queries import all_oracles

    oracles = all_oracles()
    con = duckdb_over(data_dir)
    try:
        out = {}
        for t in TEMPLATES:
            for i, lit in enumerate(t.literals):
                if t.expect.startswith("registry:"):
                    rows = con.sql(oracles[t.expect.split(":", 1)[1]]).fetchall()
                elif t.expect == "state:system_tables":
                    names = [n.strip(" '") for n in lit["names"].split(",")]
                    rows = [(n,) for n in names if n in engine.tables]
                elif t.expect == "state:system_parts":
                    rows = [(lit["t"], _parquet_files(engine.tables[lit["t"]].path))]
                elif t.expect == "state:one":
                    rows = [(1,)]
                else:
                    rows = con.sql(t.expect.format(**lit)).fetchall()
                out[(t.name, i)] = rows
        return out
    finally:
        con.close()


def _parquet_files(path: str) -> int:
    if os.path.isfile(path):
        return 1
    return sum(
        1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


# --------------------------------------------------------------- client
class Feeder:
    """Hands statements to the clients round by round. After
    ``min_rounds`` a new round starts only before the deadline, so every
    run measures whole rounds and the template mix is the same in every
    run."""

    def __init__(
        self, statements: list[Statement], round_len: int, deadline: float, min_rounds: int
    ):
        self.statements = statements
        self.round_len = round_len
        self.deadline = deadline
        self.min_handed = min_rounds * round_len
        self.handed = 0
        self._lock = threading.Lock()

    def next(self) -> Statement | None:
        with self._lock:
            if self.handed == len(self.statements):
                return None
            if (
                self.handed >= self.min_handed
                and self.handed % self.round_len == 0
                and time.perf_counter() >= self.deadline
            ):
                return None
            self.handed += 1
            return self.statements[self.handed - 1]


class Client:
    """One closed-loop HTTP client."""

    def __init__(self, port: int, tracer, expected):
        self.port = port
        self.tracer = tracer
        self.expected = expected
        self.samples: list[tuple[str, float]] = []  # (template, ms)
        self.errors: list[tuple[str, str]] = []
        self.mismatches: list[tuple[str, str]] = []

    def post(self, text: str, op_id: int) -> tuple[int, str]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("POST", "/", body=text.encode(), headers={OP_HEADER: str(op_id)})
            resp = conn.getresponse()
            return resp.status, resp.read().decode()
        finally:
            conn.close()

    def run_one(self, st: Statement) -> None:
        text = f"{st.text()} FORMAT {st.fmt}"
        with self.tracer.op("statement") as op_id:
            t0 = time.perf_counter()
            status, body = self.post(text, op_id)
            ms = 1000.0 * (time.perf_counter() - t0)
        if status != 200:
            self.errors.append((st.template, body.splitlines()[0][:200] if body else str(status)))
            return
        problem = check_rows(parse_body(body, st.fmt), self.expected[(st.template, st.literal)])
        if problem:
            self.mismatches.append((st.template, f"{st.fmt}: {problem}"))
            return
        self.samples.append((st.template, ms))

    def loop(self, feeder: Feeder) -> None:
        while (st := feeder.next()) is not None:
            self.run_one(st)


def run(session, seed: int, seconds: float) -> Outcome:
    from otus_clickhouse_spark import http_server

    out = Outcome()
    data_dir = session.make_data(SF)
    session.start_spark()
    engine = session.new_engine()
    with session.phase("engine.register_data_dir_s"):
        engine.register_data_dir(data_dir)
    with session.phase("setup.tables_s"):
        for stmt in SETUP_SQL:
            engine.execute(stmt)
        expected = expected_answers(engine, data_dir)
    server = http_server.serve(engine, "127.0.0.1", 0)
    try:
        port = server.server_address[1]
        clients = [Client(port, session.tracer, expected) for _ in range(CLIENTS)]
        # warm-up: every template once, split across the clients
        warm = [Statement(t.name, 0, FORMATS[i % len(FORMATS)]) for i, t in enumerate(TEMPLATES)]
        with session.phase("setup.warmup_s"):
            _run_parallel(clients, Feeder(warm, len(warm), float("inf"), 1))
        for c in clients:
            for name, msg in c.errors + c.mismatches:
                out.mismatch(f"interactive.{name}", f"warm-up: {msg}")
            c.samples.clear()
            c.errors.clear()
            c.mismatches.clear()

        statements = make_statements(seed, rounds=1000)
        session.begin_timed()
        t0 = time.perf_counter()
        feeder = Feeder(statements, len(TEMPLATES), t0 + seconds, MIN_ROUNDS)
        _run_parallel(clients, feeder)
        wall = time.perf_counter() - t0
        samples = [s for c in clients for s in c.samples]
        errors = [e for c in clients for e in c.errors]
        mismatches = [m for c in clients for m in c.mismatches]
        attempted = len(samples) + len(errors) + len(mismatches)
        session.end_timed(attempted, wall)
    finally:
        server.shutdown()
        server.server_close()

    out.attempted = attempted
    for name, msg in errors:
        out.mismatch(f"interactive.{name}", f"error: {msg}")
    for name, msg in mismatches:
        out.mismatch(f"interactive.{name}", msg)
    defects = run_known_defects(engine, FRONT_END)

    lat = [ms for _t, ms in samples]
    summary = latency_summary(lat)
    out.metrics = {
        "setup_s": (session.setup_s, "s"),
        "query_p50_ms": (hd_median(lat), "ms"),
        "op_geomean_ms": (per_key_geomean_ms(samples), "ms"),
        "ops_per_s": (len(samples) / wall, "1/s"),
        "peak_rss_mb": (session.peak_rss_mb, "MB"),
    }
    by_template: dict[str, list[float]] = {}
    for name, ms in samples:
        by_template.setdefault(name, []).append(ms)
    out.detail = {
        "clients": CLIENTS,
        "timed_wall_s": wall,
        "latency": summary,
        "query_p90_ms": summary.get("p90_ms"),
        "template_p50_ms": {k: statistics.median(v) for k, v in sorted(by_template.items())},
        "template_n": {k: len(v) for k, v in sorted(by_template.items())},
        "samples_ms": samples,
        "rounds": feeder.handed // len(TEMPLATES),
        "distinct_texts": len({(s.template, s.literal) for s in statements[: feeder.handed]}),
        **defect_detail(defects, out),
    }
    return out


def _run_parallel(clients, feeder: Feeder) -> None:
    threads = [threading.Thread(target=c.loop, args=(feeder,), daemon=True) for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

