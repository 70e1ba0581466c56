"""clickhouse-client-style CLI over the engine (EP1; lectures/
lecture_03.md:177-214).

A course user's muscle memory works here::

    python -m otus_clickhouse_spark --data-dir /root/testdata/sf0.001 \
        -q "SELECT l_returnflag, count() FROM lineitem GROUP BY l_returnflag FORMAT Pretty"
    echo "SELECT 1;" | python -m otus_clickhouse_spark
    python -m otus_clickhouse_spark            # interactive, ``:)`` prompt

Every ``*.parquet`` under ``--data-dir`` is registered as a table;
statements route through ``Engine.execute`` (full ClickHouse dialect:
DDL, INSERT, mutations, SELECT with FINAL/ARRAY JOIN/SAMPLE/…); the
trailing ``FORMAT X`` / ``\\G`` chooses the output rendering
(:mod:`otus_clickhouse_spark.formats`).
"""

from __future__ import annotations

import argparse
import glob
import os
import re
import sys
import time

from otus_clickhouse_spark.formats import render
from otus_clickhouse_spark.functions.lexer import split_statements

_FMT_RE = re.compile(r"\s+FORMAT\s+(\w+)\s*$", re.IGNORECASE)
_QUERYISH_RE = re.compile(r"^\s*(SELECT|WITH)\b", re.IGNORECASE)


def pop_format(stmt: str) -> tuple[str, str | None]:
    """Split a trailing ``FORMAT X`` / ``\\G`` off a statement."""
    stmt = stmt.strip().rstrip(";").strip()
    if stmt.endswith("\\G"):
        return stmt[:-2].rstrip(), "Vertical"
    m = _FMT_RE.search(stmt)
    if m:
        return stmt[: m.start()].rstrip(), m.group(1)
    return stmt, None


def execute_render(engine, text: str, default_format: str = "PrettyCompact") -> str:
    """Execute one statement, return the rendered result body only
    (shared by the CLI and the HTTP interface)."""
    stmt, fmt = pop_format(text)
    if not stmt:
        return ""
    fmt = fmt or default_format
    if _QUERYISH_RE.match(stmt):
        # run_query (not raw sql): the query gets a query_id, shows in
        # system.processes/query_log, and KILL QUERY can cancel it
        cols, rows = engine.run_query(stmt)
        return render(cols, rows, fmt)
    res = engine.execute(stmt)
    if hasattr(res, "columns") and hasattr(res, "collect"):  # DataFrame
        return render(res.columns, res.collect(), fmt)
    if isinstance(res, list) and res and hasattr(res[0], "__fields__"):
        return render(list(res[0].__fields__), res, fmt)
    if isinstance(res, list):
        # SHOW CREATE TABLE / SHOW DICTIONARIES / CLUSTERS / USERS /
        # GRANTS / EXPLAIN return plain strings; SHOW INDEXES tuples —
        # render one element per line like clickhouse-client
        if all(isinstance(x, str) for x in res):
            return "\n".join(res)
        if all(isinstance(x, tuple) for x in res):
            return "\n".join("\t".join(str(v) for v in x) for x in res)
    if isinstance(res, str):
        return res
    return "Ok."


def run_statement(engine, text: str, default_format: str = "PrettyCompact") -> str:
    """CLI wrapper: rendered output + a clickhouse-client timing tail."""
    stmt, fmt = pop_format(text)
    if not stmt:
        return ""
    t0 = time.time()
    if _QUERYISH_RE.match(stmt):
        cols, rows = engine.run_query(stmt)
        body = render(cols, rows, fmt or default_format)
        tail = f"\n{len(rows)} rows in set. Elapsed: {time.time() - t0:.3f} sec."
        return (body + tail) if body else tail.strip()
    return execute_render(engine, text, default_format)


def make_engine(data_dir: str | None):
    from otus_clickhouse_spark.engine import Engine, TableDef
    from otus_clickhouse_spark.session import get_spark

    engine = Engine(get_spark(app_name="otus-clickhouse-cli"))
    if data_dir:
        for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            name = os.path.splitext(os.path.basename(p))[0]
            engine.register_table(TableDef(name=name, path=p))
    return engine


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="otus-clickhouse-spark")
    ap.add_argument("-q", "--query", help="statement(s) to run; default: stdin/REPL")
    ap.add_argument("--data-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="directory of *.parquet files to register as tables")
    ap.add_argument("--format", default="PrettyCompact", dest="fmt",
                    help="default output FORMAT (Pretty, CSVWithNames, JSONEachRow, …)")
    ap.add_argument("--server", action="store_true",
                    help="serve the ClickHouse HTTP interface instead of a REPL")
    ap.add_argument("--host", default="127.0.0.1",
                    help="bind address for --server (default localhost-only, "
                         "like ClickHouse's listen_host; the interface is "
                         "unauthenticated — expose deliberately)")
    ap.add_argument("--port", type=int, default=8123, help="HTTP port for --server")
    args = ap.parse_args(argv)

    engine = make_engine(args.data_dir)

    if args.server:
        from otus_clickhouse_spark.http_server import serve

        server = serve(engine, host=args.host, port=args.port)
        print(f"HTTP interface on :{server.server_address[1]} — "
              f"curl 'http://localhost:{server.server_address[1]}/?query=SELECT+1'")
        try:
            threading_event = __import__("threading").Event()
            threading_event.wait()  # serve until interrupted
        except KeyboardInterrupt:
            server.shutdown()
        return 0

    def run_all(text: str) -> None:
        for stmt in split_statements(text):
            try:
                out = run_statement(engine, stmt, args.fmt)
                if out:
                    print(out)
            except Exception as exc:  # noqa: BLE001 — CLI error surface
                print(f"Error: {type(exc).__name__}: {exc}", file=sys.stderr)

    if args.query:
        run_all(args.query)
        return 0
    if not sys.stdin.isatty():
        run_all(sys.stdin.read())
        return 0
    print("otus-clickhouse-spark client. Type 'exit' to quit.")
    buf: list[str] = []
    while True:
        try:
            line = input(":) " if not buf else "   ")
        except (EOFError, KeyboardInterrupt):
            print()
            return 0
        if not buf and line.strip().lower() in ("exit", "quit", "q"):
            return 0
        buf.append(line)
        joined = "\n".join(buf)
        if joined.rstrip().endswith(";") or joined.rstrip().endswith("\\G"):
            run_all(joined)
            buf = []


if __name__ == "__main__":
    raise SystemExit(main())
