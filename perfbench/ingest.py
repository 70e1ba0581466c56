"""``ingest_mv``: the course's Kafka → MV → MergeTree pipeline, in DDL.

Set-up builds a fresh warehouse: a Kafka-engine table over the file
topic (JSONEachRow) feeds an MV into the MergeTree ``raw`` table
(ORDER BY (user_id, ts)); a second MV feeds a SummingMergeTree daily
rollup. ``kafka_attach_stream`` starts once, during set-up.

One client runs cycles in a closed loop; each cycle is

1. ``INSERT INTO raw SELECT … FROM numbers(n)``, n alternating between
   a small and a large block (the seed picks which comes first);
2. one produce of ``MESSAGES`` JSON messages, then
   ``processAllAvailable`` (the block has landed when it returns);
3. two reads through ``run_query``: the rollup ``FINAL`` aggregate and a
   point count on the ORDER BY key;

and every ``OPTIMIZE_EVERY``-th cycle ends with ``OPTIMIZE TABLE raw
FINAL``. Reads run over a growing number of parts, so a write-side gain
that costs reads or space shows.

``raw`` is not partitioned: ``OPTIMIZE … FINAL`` on a ``PARTITION BY``
MergeTree loses rows at the next insert, which the
``storage.optimize_final_partitioned_loses_rows`` reproducer reports.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import statistics
import time

import numpy as np

from perfbench.common import Outcome, hd_median, latency_summary, per_key_geomean_ms
from perfbench.defects import WRITE_PATH, defect_detail, run_known_defects

SF = 0.0  # no registry data: every row comes from the generator
SMALL, LARGE = 10_000, 100_000
MESSAGES = 20_000
OPTIMIZE_EVERY = 2
MIN_CYCLES = 3
USERS = 997
KINDS = ("view", "buy")
TOPIC = "events"

DDL = f"""
CREATE TABLE events_queue (user_id UInt32, ts DateTime, kind String, amount UInt32)
ENGINE = Kafka SETTINGS kafka_broker_list = 'localhost:9092', kafka_topic_list = '{TOPIC}',
kafka_group_name = 'perfbench', kafka_format = 'JSONEachRow';
CREATE TABLE raw (user_id UInt32, ts DateTime, kind String, amount UInt32)
ENGINE = MergeTree ORDER BY (user_id, ts);
CREATE TABLE daily (day Date, kind String, events UInt64, amount UInt64)
ENGINE = SummingMergeTree ORDER BY (day, kind);
CREATE MATERIALIZED VIEW events_mv TO raw AS
SELECT user_id, ts, kind, amount FROM events_queue;
CREATE MATERIALIZED VIEW daily_mv TO daily AS
SELECT toDate(ts) AS day, kind, count() AS events, sum(amount) AS amount FROM raw GROUP BY day, kind
"""

INSERT_EPOCH = dt.datetime(2024, 1, 1)
STREAM_EPOCH = dt.datetime(2024, 2, 1)
SPAN_S = 28 * 86_400

ROLLUP_READ = (
    "SELECT kind, sum(events) AS e, sum(amount) AS a FROM daily FINAL GROUP BY kind ORDER BY kind"
)
POINT_READ = "SELECT count() AS n FROM raw WHERE user_id = {u}"


class Generator:
    """Seeded inputs, and the bookkeeping of what has landed so far."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.np = np.random.default_rng(seed)
        self.large_first = self.rng.random() < 0.5
        self.blocks: list[dict] = []  # every landed block, as numpy columns
        self.per_user = np.zeros(USERS, dtype=np.int64)
        self.kind_events = dict.fromkeys(KINDS, 0)
        self.kind_amount = dict.fromkeys(KINDS, 0)
        self.rows_inserted = 0
        self.messages_produced = 0

    def insert_size(self, cycle: int) -> int:
        large = (cycle % 2 == 0) == self.large_first
        return LARGE if large else SMALL

    def insert_block(self, n: int) -> tuple[str, dict]:
        """The INSERT statement and the rows it must land."""
        a = self.rng.randrange(1, USERS)
        b = self.rng.randrange(USERS)
        c = self.rng.choice((37, 61, 113))
        k = self.rng.choice((3, 4, 5))
        m = self.rng.choice((50, 100))
        sql = (
            f"INSERT INTO raw SELECT toUInt32((number * {a} + {b}) % {USERS}) AS user_id, "
            f"toDateTime('{INSERT_EPOCH:%Y-%m-%d %H:%M:%S}') + "
            f"toIntervalSecond((number * {c}) % {SPAN_S}) AS ts, "
            f"if(number % {k} = 0, 'buy', 'view') AS kind, toUInt32(number % {m}) AS amount "
            f"FROM numbers({n})"
        )
        num = np.arange(n, dtype=np.int64)
        block = {
            "user_id": (num * a + b) % USERS,
            "ts_s": (num * c) % SPAN_S,
            "epoch": INSERT_EPOCH,
            "kind": np.where(num % k == 0, 1, 0),
            "amount": num % m,
        }
        return sql, block

    def messages(self, n: int) -> tuple[list[str], dict]:
        g = self.np
        block = {
            "user_id": g.integers(0, USERS, n),
            "ts_s": g.integers(0, SPAN_S, n),
            "epoch": STREAM_EPOCH,
            "kind": g.integers(0, 2, n),
            "amount": g.integers(0, 100, n),
        }
        msgs = [
            json.dumps(
                {
                    "user_id": int(u),
                    "ts": f"{STREAM_EPOCH + dt.timedelta(seconds=int(s)):%Y-%m-%d %H:%M:%S}",
                    "kind": KINDS[int(kd)],
                    "amount": int(am),
                }
            )
            for u, s, kd, am in zip(
                block["user_id"], block["ts_s"], block["kind"], block["amount"]
            )
        ]
        return msgs, block

    def landed(self, block: dict) -> None:
        self.blocks.append(block)
        self.per_user += np.bincount(block["user_id"], minlength=USERS)
        for i, kind in enumerate(KINDS):
            sel = block["kind"] == i
            self.kind_events[kind] += int(sel.sum())
            self.kind_amount[kind] += int(block["amount"][sel].sum())

    def point_user(self) -> int:
        return self.rng.randrange(USERS)

    def rollup_rows(self) -> list[tuple]:
        return [
            (k, self.kind_events[k], self.kind_amount[k]) for k in KINDS if self.kind_events[k]
        ]

    def total_rows(self) -> int:
        return int(self.per_user.sum())


def expected_daily(blocks: list[dict]) -> list[tuple]:
    """DuckDB over every generated input: rows per (day, kind)."""
    import duckdb
    import pyarrow as pa

    cols = {"day": [], "kind": [], "amount": []}
    for b in blocks:
        epoch_day = np.datetime64(b["epoch"].date(), "D")
        cols["day"].append(epoch_day + (b["ts_s"] // 86_400).astype("timedelta64[D]"))
        cols["kind"].append(np.asarray(KINDS)[b["kind"]])
        cols["amount"].append(b["amount"])
    inputs = pa.table({k: np.concatenate(v) for k, v in cols.items()})  # noqa: F841 — read by DuckDB
    con = duckdb.connect()
    try:
        return con.sql(
            "SELECT day, kind, count(*) AS events, sum(amount) AS amount FROM inputs "
            "GROUP BY day, kind"
        ).fetchall()
    finally:
        con.close()


def dir_bytes_files(path: str) -> tuple[int, int]:
    total = files = 0
    for root, _d, names in os.walk(path):
        for f in names:
            total += os.path.getsize(os.path.join(root, f))
            files += f.endswith(".parquet")
    return total, files


class Pipeline:
    """The timed operations, each checked against the generator."""

    def __init__(self, session, engine, gen: Generator, stream, out: Outcome):
        self.session = session
        self.engine = engine
        self.gen = gen
        self.stream = stream
        self.out = out
        self.samples: list[tuple[str, float]] = []  # (op kind, ms)
        self.rows_written = 0
        self.write_s = 0.0
        self.bytes_written = 0
        self.optimize_files: list[tuple[int, int]] = []
        self.blocks_streamed = 0
        self.paths = [engine.tables["raw"].path, engine.tables["daily"].path]
        self.stored = self._stored()

    def _stored(self) -> tuple[int, int]:
        sizes = [dir_bytes_files(p) for p in self.paths]
        return sum(s[0] for s in sizes), sum(s[1] for s in sizes)

    def _timed(self, kind: str, fn, record: bool):
        with self.session.tracer.op(kind, adopt=True):
            t0 = time.perf_counter()
            result = fn()
            ms = 1000.0 * (time.perf_counter() - t0)
        if record:
            self.samples.append((kind, ms))
        return result, ms

    def _account_write(self, rows: int, ms: float, record: bool) -> None:
        before = self.stored[0]
        self.stored = self._stored()
        if record:
            self.rows_written += rows
            self.write_s += ms / 1000.0
            self.bytes_written += max(0, self.stored[0] - before)

    def insert(self, n: int, record: bool) -> None:
        sql, block = self.gen.insert_block(n)
        _r, ms = self._timed(f"insert_{n}", lambda: self.engine.execute(sql), record)
        self.gen.landed(block)
        self.gen.rows_inserted += n
        self._account_write(n, ms, record)

    def stream_block(self, n: int, record: bool) -> None:
        msgs, block = self.gen.messages(n)

        def produce_and_land():
            self.engine.kafka_produce(TOPIC, msgs)
            self.stream.processAllAvailable()

        _r, ms = self._timed("stream_block", produce_and_land, record)
        self.gen.landed(block)
        self.gen.messages_produced += n
        self.blocks_streamed += record
        self._account_write(n, ms, record)

    def reads(self, record: bool) -> None:
        rows, _ms = self._timed(
            "read_rollup", lambda: self.engine.run_query(ROLLUP_READ)[1], record
        )
        got = sorted((r[0], int(r[1]), int(r[2])) for r in rows)
        if got != sorted(self.gen.rollup_rows()):
            self.out.mismatch("ingest.rollup_read", f"{got} != {self.gen.rollup_rows()}")
        u = self.gen.point_user()
        rows, _ms = self._timed(
            "read_point", lambda: self.engine.run_query(POINT_READ.format(u=u))[1], record
        )
        want = int(self.gen.per_user[u])
        if int(rows[0][0]) != want:
            self.out.mismatch("ingest.point_read", f"user {u}: {rows[0][0]} != {want}")

    def optimize(self, record: bool) -> None:
        files_before = self._stored()[1]
        _r, ms = self._timed(
            "optimize", lambda: self.engine.execute("OPTIMIZE TABLE raw FINAL"), record
        )
        self.stored = self._stored()
        if record:
            self.bytes_written += self.stored[0]
            self.optimize_files.append((files_before, self.stored[1]))


def run(session, seed: int, seconds: float) -> Outcome:
    out = Outcome()
    session.start_spark()
    engine = session.new_engine()
    with session.phase("setup.tables_s"):
        engine.execute_script(DDL)
        stream = engine.kafka_attach_stream(
            "events_queue", checkpoint=os.path.join(session.work, "kafka_ck")
        )
    try:
        gen = Generator(seed)
        pipe = Pipeline(session, engine, gen, stream, out)
        # one full-size cycle, so the JIT has compiled the large-block
        # paths before timing (a smaller one left the first timed cycle
        # 20-30% slower than the rest)
        with session.phase("setup.warmup_s"):
            pipe.insert(LARGE, record=False)
            pipe.stream_block(MESSAGES, record=False)
            pipe.reads(record=False)
            pipe.optimize(record=False)
        for name, msg in out.mismatches.items():
            out.mismatches[name] = f"warm-up: {msg}"
        progress_before = len(stream.recentProgress)

        session.begin_timed()
        t0 = time.perf_counter()
        cycles = 0
        while cycles < MIN_CYCLES or time.perf_counter() < t0 + seconds:
            pipe.insert(gen.insert_size(cycles), record=True)
            pipe.stream_block(MESSAGES, record=True)
            pipe.reads(record=True)
            cycles += 1
            if cycles % OPTIMIZE_EVERY == 0:
                pipe.optimize(record=True)
        wall = time.perf_counter() - t0
        session.end_timed(len(pipe.samples), wall)
        progress = [p for p in stream.recentProgress[progress_before:] if p["numInputRows"]]
    finally:
        stream.stop()

    out.attempted = len(pipe.samples)
    _final_checks(engine, gen, out)
    defects = run_known_defects(engine, WRITE_PATH)

    # the point read is the workload's query: the reads' joint median
    # would fall between the point and rollup clusters (three of each)
    # and swing with whichever extreme of either is nearest
    point_reads = [ms for kind, ms in pipe.samples if kind == "read_point"]
    by_kind: dict[str, list[float]] = {}
    for kind, ms in pipe.samples:
        by_kind.setdefault(kind, []).append(ms)
    stored_bytes, stored_files = pipe.stored
    landed = gen.total_rows()
    out.metrics = {
        "setup_s": (session.setup_s, "s"),
        "query_p50_ms": (hd_median(point_reads), "ms"),
        "op_geomean_ms": (per_key_geomean_ms(pipe.samples), "ms"),
        "ops_per_s": (len(pipe.samples) / wall, "1/s"),
        "peak_rss_mb": (session.peak_rss_mb, "MB"),
    }
    inserts = [ms for kind, ms in pipe.samples if kind.startswith("insert_")]
    out.detail = {
        "cycles": cycles,
        "timed_wall_s": wall,
        "op_p50_ms": {k: statistics.median(v) for k, v in sorted(by_kind.items())},
        "op_n": {k: len(v) for k, v in sorted(by_kind.items())},
        "samples_ms": pipe.samples,
        "point_read_latency": latency_summary(point_reads),
        "insert_p50_ms": statistics.median(inserts),
        "stream_batch_p50_ms": statistics.median(by_kind["stream_block"]),
        "ingest_rows_per_s": pipe.rows_written / pipe.write_s,
        "stored_bytes_per_row": stored_bytes / landed,
        "rows_landed": landed,
        "storage": {
            "parquet_files": stored_files,
            "bytes_stored": stored_bytes,
            "bytes_written": pipe.bytes_written,
            "write_amplification": pipe.bytes_written / stored_bytes,
            "files_before_after_optimize": pipe.optimize_files,
        },
        "streaming": _progress_summary(progress, pipe.blocks_streamed),
        **defect_detail(defects, out),
    }
    return out


def _final_checks(engine, gen: Generator, out: Outcome) -> None:
    """Exactly-once landing and the rollup against DuckDB."""
    want = gen.rows_inserted + gen.messages_produced
    got = int(engine.run("SELECT count() AS n FROM raw")[0][0])
    if got != want:
        out.mismatch("ingest.raw_rows_exactly_once", f"raw has {got} rows, expected {want}")
    rows = engine.run(
        "SELECT day, kind, sum(events) AS e, sum(amount) AS a FROM daily FINAL GROUP BY day, kind"
    )
    got_daily = sorted((str(r[0]), r[1], int(r[2]), int(r[3])) for r in rows)
    want_daily = sorted((str(d), k, int(e), int(a)) for d, k, e, a in expected_daily(gen.blocks))
    if got_daily != want_daily:
        diff = sorted(set(got_daily) ^ set(want_daily))[:3]
        out.mismatch("ingest.daily_rollup", f"{len(got_daily)} vs {len(want_daily)} rows; {diff}")


def _progress_summary(progress: list[dict], blocks: int) -> dict:
    def mean(key):
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return sum(vals) / len(vals) if vals else None

    return {
        "micro_batches": len(progress),
        "micro_batches_per_block": len(progress) / blocks if blocks else None,
        "add_batch_ms": mean("addBatch"),
        "query_planning_ms": mean("queryPlanning"),
        "wal_commit_ms": mean("walCommit"),
        "latest_offset_ms": mean("latestOffset"),
        "trigger_execution_ms": mean("triggerExecution"),
    }
