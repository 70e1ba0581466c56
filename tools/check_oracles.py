"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet, then compares row count, column names/
dtypes, and an order-insensitive value hash. Usage:

    python tools/check_oracles.py [sf_dir] [name_filter ...]

After the ``ok/failing`` line it prints the five slowest queries by
Spark seconds and the five slowest by oracle seconds.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)) or str(type(v)).find("ndarray") >= 0:
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = sorted("|".join(norm_cell(v) for v in row) for row in df.itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    filters = sys.argv[2:]

    import __spark_entry__ as e
    from otus_clickhouse_spark.session import get_spark

    # 8 suits the sf0.001/0.01 oracle sizes; sf1 gate runs want more
    spark = get_spark(
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8"))
    )
    qs, oracles = e.queries(), e.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    ok = bad = 0
    spark_s, oracle_s = {}, {}
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        print(f"RUN  {name}", flush=True)
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}", flush=True)
            bad += 1
            continue
        t_spark = spark_s[name] = time.time() - t0
        if name not in oracles:
            print(f"ROWS {name}: {len(sdf)} rows (no oracle) [{t_spark:.1f}s]", flush=True)
            ok += 1
            continue
        t0 = time.time()
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:200]}", flush=True)
            bad += 1
            continue
        t_oracle = oracle_s[name] = time.time() - t0
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        elif frame_hash(sdf) != frame_hash(odf):
            problems.append("value hash mismatch")
            merged = sdf[sorted(sdf.columns)].sort_values(by=sorted(sdf.columns)).head(5)
            omerged = odf[sorted(odf.columns)].sort_values(by=sorted(odf.columns)).head(5)
            problems.append(f"\n  spark:\n{merged}\n  oracle:\n{omerged}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(str(p) for p in problems), flush=True)
            bad += 1
        else:
            print(
                f"OK   {name}: {len(sdf)} rows "
                f"[{t_spark:.1f}s spark, {t_oracle:.1f}s oracle]",
                flush=True,
            )
            ok += 1
        # one long-lived session runs all 252 queries; without this,
        # persisted/checkpointed relations queries leave behind pile up
        # and push the JVM into GC thrash at sf1 (a 23 s query measured
        # 30 min inside the polluted session)
        spark.catalog.clearCache()
        if (ok + bad) % 20 == 0:
            import gc

            gc.collect()
            spark.sparkContext._jvm.System.gc()
    print(f"\n{ok} ok, {bad} failing")
    for side, secs in (("spark", spark_s), ("oracle", oracle_s)):
        slowest = sorted(secs.items(), key=lambda kv: -kv[1])[:5]
        print(f"slowest {side}: " + ", ".join(f"{n} {s:.1f}s" for n, s in slowest))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
