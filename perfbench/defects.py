"""Reproducers for engine defects found while sizing the benchmark.

Each runs once per invocation of the engine workloads, outside the
timed loop, over a small table of its own. A reproducer *passes* when
the statement gives the ClickHouse answer; until the defect is fixed it
fails and is reported by name (``known_defects`` on the detail line and
``failed_share_with_defects``). The timed mixes use other course forms,
so no latency percentile is taken over these failures.
"""

from __future__ import annotations

TABLE = "perfbench_defect_t"
PARTS = "perfbench_defect_parts"


def _setup(engine) -> None:
    engine.execute(
        f"CREATE TABLE {TABLE} (k UInt32, v UInt32, s String) "
        "ENGINE = MergeTree ORDER BY k"
    )
    engine.execute(
        f"INSERT INTO {TABLE} VALUES (1, 30, 'a'), (1, 10, 'b'), (1, 20, 'c'), "
        "(2, 5, 'd'), (2, 7, 'e')"
    )


def _to_datetime_int(engine):
    """``toDateTime(<integer>)`` in ``INSERT … SELECT`` (epoch seconds)."""
    engine.execute(
        f"CREATE TABLE {TABLE}_ts (k UInt32, ts DateTime) ENGINE = MergeTree ORDER BY k"
    )
    try:
        engine.execute(
            f"INSERT INTO {TABLE}_ts SELECT toUInt32(number) AS k, "
            "toDateTime(number * 86400) AS ts FROM numbers(3)"
        )
        rows = engine.run(f"SELECT k, toString(ts) AS ts FROM {TABLE}_ts ORDER BY k")
        got = [(int(r[0]), r[1]) for r in rows]
        want = [(0, "1970-01-01 00:00:00"), (1, "1970-01-02 00:00:00"), (2, "1970-01-03 00:00:00")]
        return got == want, f"got {got}"
    finally:
        engine.execute(f"DROP TABLE IF EXISTS {TABLE}_ts")


def _limit_by_order_outside_select(engine):
    """``ORDER BY <column not in the select list> … LIMIT n BY k``."""
    rows = engine.run(f"SELECT k, s FROM {TABLE} ORDER BY k, v LIMIT 1 BY k")
    got = sorted((int(r[0]), r[1]) for r in rows)
    return got == [(1, "b"), (2, "d")], f"got {got}"


def _array_join_group_by_alias(engine):
    """``SELECT arrayJoin([1,2,3]) AS x, count() … GROUP BY x``."""
    rows = engine.run(f"SELECT arrayJoin([1, 2, 3]) AS x, count() AS c FROM {TABLE} GROUP BY x")
    got = sorted((int(r[0]), int(r[1])) for r in rows)
    return got == [(1, 5), (2, 5), (3, 5)], f"got {got}"


def _optimize_partitioned_keeps_rows(engine):
    """``OPTIMIZE TABLE … FINAL`` on a MergeTree with ``PARTITION BY``,
    then one more insert: every row must still be counted."""
    engine.execute(
        f"CREATE TABLE {PARTS} (k UInt32, d Date) ENGINE = MergeTree "
        "PARTITION BY toYYYYMM(d) ORDER BY k"
    )
    try:
        for block in range(2):
            engine.execute(
                f"INSERT INTO {PARTS} SELECT toUInt32(number) AS k, "
                f"addDays(toDate('2024-01-01'), toInt32(number % 60)) AS d "
                f"FROM numbers({100 + block})"
            )
        engine.execute(f"OPTIMIZE TABLE {PARTS} FINAL")
        engine.execute(
            f"INSERT INTO {PARTS} SELECT toUInt32(number) AS k, "
            "toDate('2024-03-05') AS d FROM numbers(7)"
        )
        got = int(engine.run(f"SELECT count() AS n FROM {PARTS}")[0][0])
        return got == 208, f"count {got}, expected 208"
    finally:
        engine.execute(f"DROP TABLE IF EXISTS {PARTS}")


REPRODUCERS = {
    "dialect.to_datetime_integer_in_insert_select": _to_datetime_int,
    "dialect.limit_by_order_by_column_not_selected": _limit_by_order_outside_select,
    "dialect.array_join_group_by_alias": _array_join_group_by_alias,
    "storage.optimize_final_partitioned_loses_rows": _optimize_partitioned_keeps_rows,
}


# which workload runs which reproducer: the dialect forms beside the SQL
# front end, the write-path forms beside the write path
FRONT_END = (
    "dialect.limit_by_order_by_column_not_selected",
    "dialect.array_join_group_by_alias",
)
WRITE_PATH = (
    "dialect.to_datetime_integer_in_insert_select",
    "storage.optimize_final_partitioned_loses_rows",
)


def run_known_defects(engine, names) -> dict[str, dict]:
    """Run the named reproducers; name -> {"ok": bool, "detail": str}."""
    _setup(engine)
    out = {}
    try:
        for name in names:
            fn = REPRODUCERS[name]
            try:
                ok, detail = fn(engine)
            except Exception as exc:  # noqa: BLE001 — a raising reproducer is a failing one
                ok, detail = False, f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            out[name] = {"ok": ok, "detail": detail}
    finally:
        engine.execute(f"DROP TABLE IF EXISTS {TABLE}")
    return out


def defect_detail(defects: dict, out) -> dict:
    """Detail-line fields for the reproducers: each by name, the failing
    ones, and the failed share with them counted as attempted ops."""
    failing = sorted(k for k, v in defects.items() if not v["ok"])
    attempted = out.attempted + len(defects)
    return {
        "known_defects": defects,
        "known_defects_failing": failing,
        "failed_share_with_defects": (out.failed + len(failing)) / attempted,
    }
