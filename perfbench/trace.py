"""Span tracing installed from the benchmark's side.

The engine is not modified: :meth:`Tracer.install` wraps public entry
points of each module (``Engine.run_query``, ``functions.dialect.
translate``, ``SparkSession.sql``, ``DataFrame.collect`` ...) in spans.
Spans live in memory; the report is computed when the run ends.

A span records name, start, end, parent and the id of the timed
operation it belongs to. Its *self time* is its duration minus the part
of that interval its children cover. Work that runs on another thread
on behalf of an operation (the HTTP handler thread, the streaming
``foreachBatch`` callback thread) is parented to that operation: the
HTTP client names its operation in a request header, and a span opened
with ``adopt=True`` becomes the parent of parentless spans started on
other threads while it is open.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

OP_HEADER = "X-Bench-Op"


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's intervals
    (clipped to the parent's own interval)."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append(i)
    out = []
    for i, s in enumerate(spans):
        covered = union_length(
            [
                (max(spans[c].start, s.start), min(spans[c].end, s.end))
                for c in children.get(i, [])
            ]
        )
        out.append((s.end - s.start) - covered)
    return out


def layer_report(spans: list[Span], n_ops: int, first_op: int = 0) -> dict:
    """Per span name: total self time, total time, calls, and self
    milliseconds per timed operation. Only spans inside operations
    ``first_op`` onwards count; ``self_sum_s`` (all self times) equals
    ``op_time_s`` (the operations' durations) when every child lies
    inside its parent."""
    closed = [s for s in spans if s.end is not None]
    st = self_times(closed)
    layers: dict[str, dict] = {}
    op_time = 0.0
    self_sum = 0.0
    for s, self_s in zip(closed, st):
        if s.op is None or s.op < first_op:
            continue
        if s.parent is None:
            op_time += s.end - s.start
        self_sum += self_s
        d = layers.setdefault(s.name, {"self_s": 0.0, "total_s": 0.0, "calls": 0})
        d["self_s"] += self_s
        d["total_s"] += s.end - s.start
        d["calls"] += 1
    for d in layers.values():
        d["self_ms_per_op"] = 1000.0 * d["self_s"] / n_ops if n_ops else 0.0
    return {
        "layers": layers,
        "op_time_s": op_time,
        "self_sum_s": self_sum,
        "self_sum_over_op_time": (self_sum / op_time) if op_time else None,
    }


class Tracer:
    """Collects spans when ``enabled``; otherwise every method is a no-op
    apart from handing out operation ids."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.phase_ms: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._open_ops: dict[int, int] = {}
        self._adopt: int | None = None
        self._next_op = 0
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, parent: int | None = None, adopt: bool = False):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        if parent is None:
            parent = st[-1] if st else self._adopt
        op = self.spans[parent].op if parent is not None else None
        rec = Span(name, time.perf_counter(), None, parent, op)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        st.append(idx)
        prev = self._adopt
        if adopt:
            self._adopt = idx
        try:
            yield idx
        finally:
            rec.end = time.perf_counter()
            st.pop()
            if adopt:
                self._adopt = prev

    @contextmanager
    def op(self, kind: str, adopt: bool = False):
        """One timed operation: a root span named ``bench.<kind>`` with
        a fresh operation id. Yields the id (sent as :data:`OP_HEADER`)."""
        with self._lock:
            op_id = self._next_op
            self._next_op += 1
        if not self.enabled:
            yield op_id
            return
        rec = Span(f"bench.{kind}", time.perf_counter(), None, None, op_id)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
            self._open_ops[op_id] = idx
        st = self._stack()
        st.append(idx)
        prev = self._adopt
        if adopt:
            self._adopt = idx
        try:
            yield op_id
        finally:
            rec.end = time.perf_counter()
            st.pop()
            if adopt:
                self._adopt = prev
            with self._lock:
                self._open_ops.pop(op_id, None)

    @property
    def next_op(self) -> int:
        """The id the next operation will get."""
        return self._next_op

    def op_span(self, op_id: str | None) -> int | None:
        if not op_id:
            return None
        with self._lock:
            return self._open_ops.get(int(op_id))

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    # ---------------------------------------------------------- patching
    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str, adopt: bool = False, after=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span;
        ``after(args, result)`` runs inside the span once the call returns."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, adopt=adopt):
                result = orig(*args, **kwargs)
                if after is not None:
                    after(args, result)
                return result

        self._patch(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def install(self, spark) -> None:
        """Wrap every module entry point the per-layer split names."""
        from pyspark.sql import DataFrameWriter, SparkSession
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.streaming.query import StreamingQuery

        import otus_clickhouse_spark.__main__ as cli
        import otus_clickhouse_spark.functions.dialect as dialect
        import otus_clickhouse_spark.http_server as http_server
        import otus_clickhouse_spark.plans.compaction as compaction
        from otus_clickhouse_spark.engine import Engine
        from otus_clickhouse_spark.streaming.mv import MaterializedView

        tracer = self
        orig_make = http_server.make_handler

        def make_handler(engine):
            handler = orig_make(engine)
            run = handler._run

            def _run(hself, query, default_format):
                parent = tracer.op_span(hself.headers.get(OP_HEADER))
                with tracer.span("http_server.handler", parent=parent):
                    return run(hself, query, default_format)

            handler._run = _run
            return handler

        self._patch(http_server, "make_handler", make_handler)
        self.wrap(cli, "render", "formats.render")
        for attr, name in [
            ("run_query", "engine.run_query"),
            ("sql", "engine.sql"),
            ("execute", "engine.execute"),
            ("insert", "engine.insert"),
            ("register_table", "engine.register_table"),
            ("kafka_produce", "streaming.produce"),
        ]:
            self.wrap(Engine, attr, name)
        self.wrap(dialect, "translate", "functions.dialect.translate")
        self.wrap(MaterializedView, "process_block", "streaming.mv.process_block")
        self.wrap(compaction, "compact_table", "compaction.compact_table",
                  after=self._after_compaction)
        self.wrap(StreamingQuery, "processAllAvailable", "streaming.land", adopt=True)

        orig_sql = SparkSession.sql

        @functools.wraps(orig_sql)
        def spark_sql(sess, *args, **kwargs):
            tracer.count("catalyst.analyses")
            with tracer.span("catalyst.analyze"):
                result = orig_sql(sess, *args, **kwargs)
            tracer.count("catalyst.analyses_ok")
            return result

        self._patch(SparkSession, "sql", spark_sql)
        for attr in ("collect", "count", "toPandas"):
            self.wrap(DataFrame, attr, "exec.action", after=self._after_df_action)
        for attr in ("save", "parquet"):
            self.wrap(DataFrameWriter, attr, "exec.write", after=self._after_write)
        for attr in ("localCheckpoint", "checkpoint", "persist", "cache"):
            self.wrap(DataFrame, attr, "materialize")

    # ------------------------------------------------- Catalyst timings
    def _record_phases(self, jdf) -> None:
        """Add the QueryPlanningTracker phase durations of an executed
        plan (analysis, optimization, planning) to ``phase_ms``; a plan
        the JVM cannot report counts in ``catalyst.tracker_errors``."""
        from py4j.protocol import Py4JError

        try:
            phases = jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                opt = phases.get(phase)
                if opt.isDefined():
                    with self._lock:
                        self.phase_ms[phase] += opt.get().durationMs()
        except Py4JError:
            self.count("catalyst.tracker_errors")

    def _after_df_action(self, args, _result) -> None:
        self._record_phases(args[0]._jdf)

    def _after_write(self, args, _result) -> None:
        self._record_phases(args[0]._df._jdf)

    def _after_compaction(self, _args, result) -> None:
        if result:
            self.count("compaction.files_before", result.get("n_files", 0))
            self.count("compaction.files_after", result.get("n_target_files", 0))
            self.count("compaction.bytes_rewritten", result.get("total_bytes", 0))


class SparkCounters:
    """Job, task, stage and SQL-execution totals from Spark's own status
    stores, as deltas between two snapshots."""

    def __init__(self, spark):
        self.spark = spark

    def snapshot(self) -> dict:
        sc = self.spark.sparkContext._jsc.sc()
        store = sc.statusStore()
        gw = self.spark.sparkContext._gateway
        empty = gw.jvm.java.util.ArrayList
        jobs = store.jobsList(empty())
        stages = store.stageList(empty(), False, False, gw.new_array(gw.jvm.double, 0), empty())
        snap = {"job_ids": set(), "stages": {}}
        for i in range(jobs.size()):
            snap["job_ids"].add(jobs.apply(i).jobId())
        for i in range(stages.size()):
            s = stages.apply(i)
            snap["stages"][(s.stageId(), s.attemptId())] = (
                s.numTasks(),
                s.shuffleWriteBytes(),
                s.memoryBytesSpilled() + s.diskBytesSpilled(),
            )
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        snap["sql_executions"] = sql_store.executionsCount()
        return snap

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        new_stages = [v for k, v in after["stages"].items() if k not in before["stages"]]
        return {
            "jobs": len(after["job_ids"] - before["job_ids"]),
            "tasks": sum(v[0] for v in new_stages),
            "shuffle_write_bytes": sum(v[1] for v in new_stages),
            "spill_bytes": sum(v[2] for v in new_stages),
            "sql_executions": after["sql_executions"] - before["sql_executions"],
        }
