"""Capture .explain("formatted") for headline (or named) queries.

Usage:
    SPARK_GRAFT_PLANS_DIR=<dir> python tools/capture_plans.py <suffix> [query ...]

Writes plans/<dir>/<query>_<suffix>.txt for each query (default: the
bench HEADLINE set); SPARK_GRAFT_PLANS_DIR is required, so a capture
never lands in another round's directory. Plans are captured against
$SPARK_GRAFT_SF_DIR (default sf0.1) without executing the query.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    plans_dir = os.environ.get("SPARK_GRAFT_PLANS_DIR")
    if not plans_dir:
        sys.exit("capture_plans: set SPARK_GRAFT_PLANS_DIR to the plans/ subdirectory to write")
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]

    import bench
    from otus_clickhouse_spark.queries import all_queries
    from otus_clickhouse_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="capture_plans")
    qs = all_queries()
    if not names:
        names = bench.HEADLINE

    out_dir = os.path.join(REPO, "plans", plans_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # capture the failure as evidence too
            text = f"EXPLAIN FAILED: {exc!r}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        n_ex = text.count("Exchange")
        print(f"{name}: {len(text)} bytes, {n_ex} Exchange mentions -> {path}")


if __name__ == "__main__":
    main()
