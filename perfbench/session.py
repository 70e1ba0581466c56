"""Process-level set-up shared by the workloads: a private working
directory, the Spark session, the tracer and the set-up clock."""

from __future__ import annotations

import os
import subprocess
import tempfile
import time
from contextlib import contextmanager

from perfbench.common import peak_rss_mb
from perfbench.trace import SparkCounters, Tracer, layer_report

# Small enough to share a host; sf0.1 runs well inside it.
DRIVER_MEMORY = "2g"
# Spark task slots (local[N], N shuffle partitions). Fixed rather than
# nproc so figures compare across hosts, and below a 4-core host's size
# so that other tenants' load steals less from a run.
SPARK_CPUS = 2


class BenchSession:
    def __init__(self, work: str, trace: bool, process_start: float):
        self.work = work
        self.process_start = process_start
        self.tracer = Tracer(trace)
        self.setup_phases: dict[str, float] = {}
        self.setup_s: float | None = None
        self.spark = None
        self.jvm_pid: int | None = None
        self.counters: SparkCounters | None = None
        self._snap = None
        self.exec_delta: dict = {}
        self.timed_ops = 0
        self.timed_wall_s = 0.0
        self.peak_rss_mb = 0.0
        self.layer_detail: dict = {}
        self._first_op = 0
        self._counts_at_start: dict[str, int] = {}
        self._phase_at_start: dict[str, float] = {}
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CPUS)
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        for var in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_KAFKA_BROKERS"):
            os.environ.pop(var, None)
        os.chdir(work)

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup_phases[name] = time.perf_counter() - t0

    def make_data(self, sf: float) -> str:
        """Generate the registry's tables at ``sf`` with
        ``tools/gen_testdata.py`` (its fixed seed, so every run reads the
        same data) into the work dir."""
        from tools.gen_testdata import generate

        out = os.path.join(self.work, "data", f"sf{sf}")
        with self.phase("data.generate_s"):
            generate(sf, out)
        return out

    def start_spark(self):
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job/stage/execution of a run for the counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        }
        with self.phase("session.get_spark_s"):
            from otus_clickhouse_spark.session import get_spark

            self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        if self.tracer.enabled:
            self.tracer.install(self.spark)
            self.counters = SparkCounters(self.spark)
        return self.spark

    def new_engine(self):
        """An Engine (its constructor registers the ClickHouse functions)."""
        from otus_clickhouse_spark.engine import Engine

        before = self.tracer.counts.get("catalyst.analyses", 0)
        with self.phase("functions.clickhouse.register_s"):
            engine = Engine(self.spark)
        if self.tracer.enabled:
            self.setup_phases["functions.clickhouse.sql_calls"] = (
                self.tracer.counts.get("catalyst.analyses", 0) - before
            )
        return engine

    # ------------------------------------------------------ timed window
    def begin_timed(self) -> None:
        self.setup_s = time.perf_counter() - self.process_start
        if self.counters is not None:
            self._snap = self.counters.snapshot()
        self._first_op = self.tracer.next_op
        self._counts_at_start = dict(self.tracer.counts)
        self._phase_at_start = dict(self.tracer.phase_ms)

    def end_timed(self, ops: int, wall_s: float) -> None:
        self.timed_ops = ops
        self.timed_wall_s = wall_s
        self.peak_rss_mb = peak_rss_mb(self.jvm_pid)
        if self.counters is not None:
            self.exec_delta = SparkCounters.delta(self._snap, self.counters.snapshot())

    def window_count(self, name: str) -> int:
        return self.tracer.counts.get(name, 0) - self._counts_at_start.get(name, 0)

    def window_phase_ms(self, phase: str) -> float:
        return self.tracer.phase_ms.get(phase, 0.0) - self._phase_at_start.get(phase, 0.0)

    # ------------------------------------------------------ per-layer
    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        """Per-layer metrics of a traced run. The declared ones (every
        workload reaches these layers) are returned; the per-module
        split is kept in ``layer_detail``."""
        n = max(self.timed_ops, 1)
        rep = layer_report(self.tracer.spans, n, self._first_op)
        layers = rep["layers"]

        def self_ms(*names):
            return sum(layers.get(x, {}).get("self_ms_per_op", 0.0) for x in names)

        bench_self = sum(
            d["self_ms_per_op"] for name, d in layers.items() if name.startswith("bench.")
        )
        ex = self.exec_delta
        analyses = self.window_count("catalyst.analyses")
        sql_calls = layers.get("engine.sql", {}).get("calls", 0)
        self.layer_detail = {
            "ops": self.timed_ops,
            "timed_wall_s": self.timed_wall_s,
            "op_time_s": rep["op_time_s"],
            "self_sum_s": rep["self_sum_s"],
            "self_sum_over_op_time": rep["self_sum_over_op_time"],
            "per_module": {
                name: {
                    "self_ms_per_op": d["self_ms_per_op"],
                    "self_s": d["self_s"],
                    "calls": d["calls"],
                }
                for name, d in sorted(layers.items())
            },
            "exec": ex,
            "catalyst": {
                "analyses": analyses,
                "analyses_ok": self.window_count("catalyst.analyses_ok"),
                "engine_sql_calls": sql_calls,
                "analyses_per_stmt": (analyses / sql_calls) if sql_calls else None,
                "analysis_success_ratio": (
                    self.window_count("catalyst.analyses_ok") / analyses if analyses else None
                ),
                "tracker_ms": {
                    p: self.window_phase_ms(p) for p in ("analysis", "optimization", "planning")
                },
                "tracker_errors": self.window_count("catalyst.tracker_errors"),
            },
            "counts": {k: self.window_count(k) for k in sorted(self.tracer.counts)},
        }
        plan_ms = self.window_phase_ms("optimization") + self.window_phase_ms("planning")
        return {
            "session.get_spark_s": (self.setup_phases["session.get_spark_s"], "s"),
            "setup.warmup_s": (self.setup_phases["setup.warmup_s"], "s"),
            "bench.self_ms": (bench_self, "ms"),
            "exec.action_self_ms": (self_ms("exec.action", "exec.write"), "ms"),
            "catalyst.plan_ms": (plan_ms / n, "ms"),
            "exec.jobs_per_op": (ex.get("jobs", 0) / n, "count"),
            "exec.tasks_per_op": (ex.get("tasks", 0) / n, "count"),
            "exec.sql_executions_per_op": (ex.get("sql_executions", 0) / n, "count"),
            "exec.shuffle_write_bytes_per_op": (ex.get("shuffle_write_bytes", 0) / n, "B"),
            "trace.spans_per_op": (
                sum(d["calls"] for d in layers.values()) / n, "count"
            ),
        }

    # ---------------------------------------------------------- teardown
    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        self.tracer.restore()
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        try:
            self.spark.stop()
        finally:
            gateway.shutdown()
            proc = gateway.proc
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
