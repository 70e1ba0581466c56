"""Capture .explain("formatted") for headline (or named) queries.

Usage:
    SPARK_GRAFT_PLANS_DIR=<dir> python tools/capture_plans.py <suffix> [query ...]
    SPARK_GRAFT_PLANS_DIR=<dir> python tools/capture_plans.py --engine-sql <data_dir> <suffix>

Registry mode writes plans/<dir>/<query>_<suffix>.txt for each query
(default: the bench HEADLINE set); plans are captured against
$SPARK_GRAFT_SF_DIR (default sf0.1) without executing the query.

Engine-SQL mode registers every table of <data_dir> in an ``Engine``,
runs the ``interactive_sql`` benchmark's set-up statements, then runs
each of its 20 statement templates (first literal) through
``Engine.sql`` and collects it. It writes the executed plan, headed by
the number of Spark jobs and tasks the collect ran, to
plans/<dir>/<template>_<suffix>.txt, with the data directory written as
``<data_dir>`` and the working directory as ``<cwd>``. The tables the
set-up creates under ./spark-warehouse are dropped at the end.

SPARK_GRAFT_PLANS_DIR is required, so a capture never lands in another
round's directory.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _write(out_dir: str, name: str, suffix: str, text: str) -> None:
    path = os.path.join(out_dir, f"{name}_{suffix}.txt")
    with open(path, "w") as f:
        f.write(text)
    n_ex = text.count("Exchange")
    print(f"{name}: {len(text)} bytes, {n_ex} Exchange mentions -> {path}")


def capture_registry(spark, out_dir: str, suffix: str, names: list[str]) -> None:
    import bench
    from otus_clickhouse_spark.queries import all_queries

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = all_queries()
    for name in names or bench.HEADLINE:
        try:
            text = _explain(qs[name](spark, sf_dir))
        except Exception as exc:  # capture the failure as evidence too
            text = f"EXPLAIN FAILED: {exc!r}\n"
        _write(out_dir, name, suffix, text)


def capture_engine_sql(spark, out_dir: str, suffix: str, data_dir: str) -> None:
    from otus_clickhouse_spark.engine import Engine
    from perfbench.interactive import SETUP_SQL, TEMPLATES

    data_dir = os.path.abspath(data_dir)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    engine = Engine(spark, data_dir=data_dir)
    data_tables = set(engine.tables)
    for stmt in SETUP_SQL:
        engine.execute(stmt)
    for t in TEMPLATES:
        group = f"capture_plans.{t.name}"
        sc.setJobGroup(group, t.name)
        try:
            df = engine.sql(t.sql.format(**t.literals[0]))
            df.collect()
            jobs = tracker.getJobIdsForGroup(group)
            stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
            tasks = sum(tracker.getStageInfo(s).numTasks for s in stages)
            text = f"-- jobs: {len(jobs)}, tasks: {tasks}\n" + _explain(df)
            # host paths out, so captures diff across hosts
            text = text.replace(data_dir, "<data_dir>").replace(os.getcwd(), "<cwd>")
        except Exception as exc:  # capture the failure as evidence too
            text = f"EXPLAIN FAILED: {exc!r}\n"
        _write(out_dir, t.name, suffix, text)
    for name in set(engine.tables) - data_tables:
        engine.drop_table(name)  # the set-up's tables, under ./spark-warehouse


def main():
    plans_dir = os.environ.get("SPARK_GRAFT_PLANS_DIR")
    if not plans_dir:
        sys.exit("capture_plans: set SPARK_GRAFT_PLANS_DIR to the plans/ subdirectory to write")
    args = sys.argv[1:]
    engine_data = None
    if args[:1] == ["--engine-sql"]:
        if len(args) < 2:
            sys.exit("capture_plans: --engine-sql needs a data directory")
        engine_data, args = args[1], args[2:]
    suffix = args[0] if args else "before"

    from otus_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="capture_plans")
    out_dir = os.path.join(REPO, "plans", plans_dir)
    os.makedirs(out_dir, exist_ok=True)
    if engine_data:
        capture_engine_sql(spark, out_dir, suffix, engine_data)
    else:
        capture_registry(spark, out_dir, suffix, args[1:])


if __name__ == "__main__":
    main()
