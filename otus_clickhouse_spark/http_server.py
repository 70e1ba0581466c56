"""ClickHouse-compatible HTTP interface (EP2; lectures/lecture_03.md:
265-307): ``GET /?query=…`` for reads, ``POST /`` with the statement in
the body for everything, ``/ping`` → ``Ok.``. The course's curl
examples and the embedded-dashboard pattern (canned queries over
``?query=``, lecture_20.md:5-16) work against it.

stdlib-only (ThreadingHTTPServer). The default output format is
TabSeparated, like ClickHouse over HTTP; ``FORMAT X`` in the query or
``?default_format=X`` overrides. Errors return 500 with the exception
text, and the ``X-ClickHouse-Exception-Code``-style header carries the
exception class name.
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from otus_clickhouse_spark.system_tables import CATALOG


def make_handler(engine):
    from otus_clickhouse_spark.__main__ import execute_render

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet
            pass

        def _send(self, code: int, body: str, exc: str | None = None):
            data = (body + ("\n" if body and not body.endswith("\n") else "")).encode()
            self.send_response(code)
            self.send_header("Content-Type", "text/plain; charset=UTF-8")
            self.send_header("Content-Length", str(len(data)))
            if exc:
                self.send_header("X-Exception", exc)
            self.end_headers()
            self.wfile.write(data)

        def _run(self, query: str, default_format: str):
            if not query.strip():
                self._send(400, "no query")
                return
            try:
                self._send(200, execute_render(engine, query, default_format))
            except Exception as e:  # noqa: BLE001 — HTTP error surface
                self._send(500, f"{type(e).__name__}: {e}", exc=type(e).__name__)

        def do_GET(self):
            url = urlparse(self.path)
            if url.path in ("/ping", "/replicas_status"):
                self._send(200, "Ok.")
                return
            if url.path == "/metrics":
                # Prometheus text format from system.metrics/events —
                # the exporter surface the course scrapes
                # (lecture_20.md:497-529)
                lines = [
                    f"otus_metric_{metric} {value}"
                    for metric, value in CATALOG["metrics"].rows(engine)
                ] + [
                    f"otus_event_{event}_total {value}"
                    for event, value in CATALOG["events"].rows(engine)
                ]
                self._send(200, "\n".join(lines))
                return
            qs = parse_qs(url.query)
            self._run(
                qs.get("query", [""])[0],
                qs.get("default_format", ["TabSeparated"])[0],
            )

        def do_POST(self):
            url = urlparse(self.path)
            qs = parse_qs(url.query)
            n = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(n).decode() if n else ""
            # CH semantics: query in the URL param, or the POST body; with
            # BOTH, the body is the statement's data block — the
            # `?query=INSERT INTO t FORMAT CSV` + CSV-body bulk-insert
            # shape the Airflow lab's client uses
            param = qs.get("query", [""])[0]
            query = f"{param}\n{body}" if param and body else (param or body)
            self._run(query, qs.get("default_format", ["TabSeparated"])[0])

    return Handler


def serve(engine, host: str = "127.0.0.1", port: int = 8123) -> ThreadingHTTPServer:
    """Start the HTTP interface in a daemon thread; returns the server
    (call ``.shutdown()`` to stop). Statements execute on the Spark
    driver; concurrency is bounded by the threaded handler + Spark's
    scheduler, matching the reference's one-server-many-clients shape."""
    server = ThreadingHTTPServer((host, port), make_handler(engine))
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
