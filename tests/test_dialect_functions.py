"""ClickHouse dialect: SQL UDF registration + translator rewrites."""

import ast
import logging
import threading
from pathlib import Path

import pytest

from otus_clickhouse_spark.functions.dialect import translate


def test_final_rewrite():
    assert "FROM t__final" in translate("SELECT * FROM t FINAL")


def test_count_zero_args():
    assert translate("SELECT count() FROM t") == "SELECT count(*) FROM t"


def test_aggregate_aliases():
    out = translate("SELECT uniq(a), argMax(b, c), groupArray(d) FROM t")
    assert "approx_count_distinct(a)" in out
    assert "max_by(b, c)" in out
    assert "collect_list(d)" in out


def test_multiif():
    out = translate("SELECT multiIf(a > 1, 'x', b < 2, 'y', 'z') FROM t")
    assert out == "SELECT (CASE WHEN a > 1 THEN 'x' WHEN b < 2 THEN 'y' ELSE 'z' END) FROM t"


def test_uniq_exact_state_combinators():
    """uniqExactState/uniqExactMerge (NEW r11, sf1-gate driven): the
    exact mergeable value-set state — and the longer name must win over
    the uniq prefix in the combinator regex."""
    out = translate(
        "SELECT uniqExactMerge(u) FROM "
        "(SELECT uniqExactState(x) AS u FROM t GROUP BY k)"
    )
    assert "array_sort(collect_set(x))" in out
    assert "size(array_distinct(flatten(collect_list(u))))" in out
    # the HLL spelling is untouched
    out2 = translate("SELECT uniqMerge(u) FROM (SELECT uniqState(x) AS u FROM t)")
    assert "hll_sketch_agg(x, 14)" in out2
    assert "hll_sketch_estimate(hll_union_agg(u))" in out2
    # finalizeAggregation dispatches on the inline state name
    out3 = translate("SELECT finalizeAggregation(uniqExactState(x)) FROM t")
    assert "size(array_sort(collect_set(x)))" in out3


def test_if_combinators():
    out = translate("SELECT sumIf(x, y > 0), countIf(y > 0) FROM t")
    assert "sum(x) FILTER (WHERE y > 0)" in out
    assert "count_if(y > 0)" in out


@pytest.mark.parametrize(
    "expr,expected",
    [
        ("toYYYYMM(TIMESTAMP '2024-07-15 10:00:00')", 202407),
        ("toYYYYMMDD(TIMESTAMP '2024-07-15 10:00:00')", 20240715),
        ("intDiv(7, 2)", 3),
        ("intDiv(-7, 2)", -4),
        ("JSONExtractInt('{\"k\": 42}', 'k')", 42),
        ("modulo(10, 3)", 1),
        ("arrayStringConcat(array('a','b'), '-')", "a-b"),
        ("arraySum(array(1.0D, 2.0D, 3.5D))", 6.5),
        ("has(array('a','b'), 'b')", True),
    ],
)
def test_clickhouse_sql_udfs(spark, expr, expected):
    from otus_clickhouse_spark.functions.clickhouse import ensure_functions

    stmt = f"SELECT {expr} AS v"
    ensure_functions(spark, stmt)
    got = spark.sql(stmt).collect()[0].v
    assert got == expected


@pytest.mark.parametrize(
    "expr,expected",
    [
        ("notEmpty('x')", True),
        ("empty('')", True),
        ("empty('x')", False),
        ("notEmpty('')", False),
        ("empty([])", True),
        ("empty(emptyArrayInt32())", True),
        ("notEmpty([])", False),
        ("empty([1, 2])", False),
        ("notEmpty([1, 2])", True),
        ("empty(map())", True),
        ("notEmpty(map('k', 1))", True),
    ],
)
def test_empty_and_not_empty(engine, expr, expected):
    # strings, arrays and maps: an array used to be stringified to '[]'
    assert engine.sql(f"SELECT {expr} AS v").collect()[0].v is expected


def test_format_readable_size(spark):
    from otus_clickhouse_spark.functions.clickhouse import ensure_functions

    stmt = "SELECT formatReadableSize(1536.0) AS v"
    ensure_functions(spark, stmt)
    got = spark.sql(stmt).collect()[0].v
    assert got == "1.50 KiB"


def test_engine_sql_runs_ch_dialect(engine):
    # a realistic reference-dialect query end to end (hw02.md:91-105 shape)
    df = engine.sql(
        "SELECT l_returnflag, count(), uniqExact(l_orderkey) AS u "
        "FROM lineitem WHERE l_quantity < 10 GROUP BY l_returnflag"
    )
    assert df.count() > 0


def test_split_inside_explode(engine):
    # SQL UDFs can't sit inside Generate; translator inlines splitByChar
    rows = engine.sql(
        "SELECT arrayJoin(splitByChar(' ', p_name)) AS tok FROM part LIMIT 3"
    ).collect()
    assert len(rows) == 3 and all(r.tok for r in rows)


def test_query_parameters(engine):
    # {name:Type} parameters (lectures/lecture_03.md:303-307) → named args
    assert translate("SELECT {id:UInt8} AS v") == "SELECT :id AS v"
    rows = engine.sql(
        "SELECT count() AS n FROM lineitem WHERE l_quantity < {q:UInt8}", q=5
    ).collect()
    assert rows[0].n > 0


def test_today_now64(engine):
    r = engine.sql("SELECT today() AS d, now64() AS t, yesterday() AS y").collect()[0]
    assert r.d is not None and r.t is not None and (r.d - r.y).days == 1


def test_array_join_clause_single(engine):
    # lectures/lecture_06.md:29-41 shape
    rows = engine.sql(
        "SELECT size FROM (SELECT array('37','38','39') AS sizes) "
        "ARRAY JOIN sizes AS size ORDER BY size"
    ).collect()
    assert [r.size for r in rows] == ["37", "38", "39"]


def test_array_join_clause_aligned(engine):
    # multiple arrays unnest row-wise ALIGNED, not cartesian
    rows = engine.sql(
        "SELECT size, cm FROM "
        "(SELECT array('37','38') AS sizes, array('23','24') AS cms) "
        "ARRAY JOIN sizes AS size, cms AS cm ORDER BY size"
    ).collect()
    assert [(r.size, r.cm) for r in rows] == [("37", "23"), ("38", "24")]


def test_array_join_with_extractAll(engine):
    # lecture_18.md:211-216 shape: ARRAY JOIN over a function result
    rows = engine.sql(
        "SELECT w FROM (SELECT 'a1 b2' AS s) ARRAY JOIN "
        "extractAll(s, '[a-z][0-9]') AS w ORDER BY w"
    ).collect()
    assert [r.w for r in rows] == ["a1", "b2"]


def test_order_by_with_fill(engine):
    # lecture_20.md:29-33: densify sparse buckets
    rows = engine.sql(
        "SELECT t, n FROM (SELECT 1 AS t, 10 AS n UNION ALL SELECT 4, 40) AS s "
        "ORDER BY t WITH FILL STEP 1"
    ).collect()
    assert [r.t for r in rows] == [1, 2, 3, 4]
    assert [r.n for r in rows] == [10, None, None, 40]


def test_order_by_with_fill_param_step(engine):
    rows = engine.sql(
        "SELECT t FROM (SELECT 2 AS t UNION ALL SELECT 6) AS s "
        "ORDER BY t WITH FILL STEP {st:UInt32}",
        st=2,
    ).collect()
    assert [r.t for r in rows] == [2, 4, 6]


def test_sample_clause(engine):
    n = engine.sql("SELECT count() AS n FROM lineitem SAMPLE 0.5").collect()[0].n
    total = engine.sql("SELECT count() AS n FROM lineitem").collect()[0].n
    assert 0 < n < total
    n_rows = engine.sql("SELECT count() AS n FROM lineitem SAMPLE 100").collect()[0].n
    assert n_rows <= total


def test_numbers_table_function(engine):
    rows = engine.sql("SELECT number FROM numbers(5) ORDER BY number").collect()
    assert [r.number for r in rows] == [0, 1, 2, 3, 4]
    rows = engine.sql("SELECT number FROM numbers(3, 4) ORDER BY number").collect()
    assert [r.number for r in rows] == [3, 4, 5, 6]
    s = engine.sql("SELECT sum(number) AS s FROM numbers(1000001)").collect()[0].s
    assert s == 500000500000


def test_asof_join_sql(engine, spark):
    # J7 SQL surface (lecture_10.md:14): trades matched to the latest
    # quote at-or-before each trade
    spark.createDataFrame(
        [(1, 10, "t1"), (1, 25, "t2"), (2, 5, "t3")], "k int, ts int, trade string"
    ).createOrReplaceTempView("trades_asof")
    spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 2.0), (2, 9, 9.0)], "k int, ts int, px double"
    ).createOrReplaceTempView("quotes_asof")
    from otus_clickhouse_spark.engine import TableDef

    engine.tables["trades_asof"] = TableDef(name="trades_asof")
    engine.tables["quotes_asof"] = TableDef(name="quotes_asof")
    rows = engine.sql(
        "SELECT trade, quotes_asof.px AS px FROM trades_asof "
        "ASOF JOIN quotes_asof "
        "ON trades_asof.k = quotes_asof.k AND trades_asof.ts >= quotes_asof.ts "
        "ORDER BY trade"
    ).collect()
    # t1: quote ts=10 (exact match allowed) → 1.0; t2: ts=20 → 2.0;
    # t3: no quote at-or-before ts=5 → dropped (inner)
    assert [(r.trade, r.px) for r in rows] == [("t1", 1.0), ("t2", 2.0)]
    rows = engine.sql(
        "SELECT trade, quotes_asof.px AS px FROM trades_asof "
        "ASOF LEFT JOIN quotes_asof "
        "ON trades_asof.k = quotes_asof.k AND trades_asof.ts >= quotes_asof.ts "
        "ORDER BY trade"
    ).collect()
    assert len(rows) == 3 and rows[2].px is None
    del engine.tables["trades_asof"], engine.tables["quotes_asof"]


def test_paste_join_sql(engine):
    # J8 (lecture_10.md:15): positional zip of two result sets
    rows = engine.sql(
        "SELECT number, n2 FROM "
        "(SELECT number FROM numbers(3) ORDER BY number) PASTE JOIN "
        "(SELECT number + 10 AS n2 FROM numbers(3) ORDER BY n2 DESC)"
    ).collect()
    assert sorted((r.number, r.n2) for r in rows) == [(0, 12), (1, 11), (2, 10)]


def test_explain_statement(engine):
    [plan] = engine.execute("EXPLAIN SELECT count() FROM lineitem WHERE l_quantity < 5")
    assert "Physical Plan" in plan or "HashAggregate" in plan
    [ast] = engine.execute("EXPLAIN AST SELECT 1 AS x")
    assert "Parsed Logical Plan" in ast or "Project" in ast


def test_settings_and_format_suffixes_stripped(engine):
    # course queries append SETTINGS/FORMAT freely (lecture_10.md:181,
    # lecture_03.md:209-213) — results are unaffected
    n1 = engine.sql("SELECT count() AS n FROM lineitem").collect()[0].n
    n2 = engine.sql(
        "SELECT count() AS n FROM lineitem SETTINGS max_threads = 4, join_algorithm = 'hash'"
    ).collect()[0].n
    n3 = engine.sql("SELECT count() AS n FROM lineitem FORMAT Pretty").collect()[0].n
    assert n1 == n2 == n3


def test_set_statement(engine):
    engine.execute("SET max_memory_usage = 10000000000")
    vals = {
        r.name: r.value
        for r in engine.system("settings").where("name = 'max_memory_usage'").collect()
    }
    assert vals["max_memory_usage"] == "10000000000"


def test_limit_by_clause(engine):
    # LIMIT n BY cols: first n rows per BY group in ORDER BY order
    rows = engine.sql(
        "SELECT l_returnflag, l_linestatus, count() AS n FROM lineitem "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY n DESC, l_linestatus LIMIT 1 BY l_returnflag"
    ).collect()
    flags = [r.l_returnflag for r in rows]
    assert len(flags) == len(set(flags))  # exactly one row per flag
    # tail LIMIT m applies after the per-group cut
    rows2 = engine.sql(
        "SELECT l_returnflag, l_linestatus, count() AS n FROM lineitem "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY n DESC, l_linestatus LIMIT 1 BY l_returnflag LIMIT 2"
    ).collect()
    assert len(rows2) == 2


@pytest.fixture
def kvs(engine, tmp_path):
    """A 5-row MergeTree ``kvs (k, v, s)``: k=1 has v 30/10/20, k=2 has v 5/7."""
    engine.execute("CREATE TABLE kvs (k UInt32, v UInt32, s String) ENGINE = MergeTree ORDER BY k")
    engine.tables["kvs"].path = str(tmp_path / "kvs")
    engine.execute(
        "INSERT INTO kvs VALUES (1, 30, 'a'), (1, 10, 'b'), (1, 20, 'c'), (2, 5, 'd'), (2, 7, 'e')"
    )
    yield "kvs"
    engine.execute("DROP TABLE kvs")


def test_limit_by_orders_by_a_column_not_selected(engine, kvs):
    # ORDER BY items missing from the select list ride along hidden
    rows = engine.run("SELECT k, s FROM kvs ORDER BY k, v LIMIT 1 BY k")
    assert [tuple(r) for r in rows] == [(1, "b"), (2, "d")]
    # BY keys and ORDER BY expressions may be unselected too
    rows = engine.run("SELECT s FROM kvs ORDER BY v % 7 DESC, s LIMIT 1 BY k")
    assert [r.s for r in rows] == ["c", "d"]
    rows = engine.run("SELECT s FROM kvs ORDER BY v DESC LIMIT 1 BY k LIMIT 1")
    assert [tuple(r) for r in rows] == [("a",)]


def test_array_join_alias_in_group_by(engine, kvs):
    rows = engine.run(
        "SELECT arrayJoin([1, 2, 3]) AS x, count() AS c FROM kvs GROUP BY x ORDER BY x"
    )
    assert [tuple(r) for r in rows] == [(1, 5), (2, 5), (3, 5)]
    # two calls multiply; a WHERE and an ungrouped arrayJoin still work
    rows = engine.run(
        "SELECT arrayJoin([1, 2]) AS x, arrayJoin(['p', 'q']) AS y, sum(v) AS t "
        "FROM kvs WHERE k = 2 GROUP BY x, y ORDER BY x, y"
    )
    assert [tuple(r) for r in rows] == [(1, "p", 12), (1, "q", 12), (2, "p", 12), (2, "q", 12)]
    rows = engine.run("SELECT arrayJoin([1, 2]) AS x FROM kvs WHERE k = 2 ORDER BY x")
    assert [r.x for r in rows] == [1, 1, 2, 2]


def test_with_totals(engine):
    rows = engine.sql(
        "SELECT l_returnflag, count() AS n FROM lineitem "
        "GROUP BY l_returnflag WITH TOTALS"
    ).collect()
    per = {r.l_returnflag: r.n for r in rows if r.l_returnflag is not None}
    totals = [r.n for r in rows if r.l_returnflag is None]
    assert len(totals) == 1 and totals[0] == sum(per.values())


@pytest.mark.parametrize(
    "expr,expected",
    [
        ("toYear(TIMESTAMP '2024-03-05 10:11:12')", 2024),
        ("toDayOfWeek(TIMESTAMP '2024-01-01 00:00:00')", 1),  # Monday
        ("toDayOfWeek(TIMESTAMP '2024-01-07 00:00:00')", 7),  # Sunday
        ("toUnixTimestamp(TIMESTAMP '1970-01-01 00:01:00')", 60),
        ("formatDateTime(TIMESTAMP '2024-03-05 01:02:03', '%Y-%m-%d %H:%M:%S')",
         "2024-03-05 01:02:03"),
        ("replaceAll('a-b-c', '-', '+')", "a+b+c"),
        ("IPv4NumToString(3232235777)", "192.168.1.1"),
        ("IPv4StringToNum('192.168.1.1')", 3232235777),
        ("arrayUniq(array('a','b','a'))", 2),
        ("indexOf(array(10,20,30), 20)", 2),
        ("positionUTF8('hello', 'll')", 3),
        ("extractURLParameter('http://x.com/p?a=1&b=2', 'b')", "2"),
        ("domain('https://example.com/a?c=1')", "example.com"),
        ("base64Decode(base64Encode('hi'))", "hi"),
        ("exp2(10.0)", 1024.0),
    ],
)
def test_extended_scalar_udfs(spark, expr, expected):
    from otus_clickhouse_spark.functions.clickhouse import ensure_functions

    stmt = translate(f"SELECT {expr} AS v")
    ensure_functions(spark, stmt)
    got = spark.sql(stmt).collect()[0].v
    assert got == expected


def test_datediff_boundary_semantics(engine):
    # CH dateDiff counts crossed unit boundaries, not full elapsed units
    r = engine.sql(
        "SELECT dateDiff('day', TIMESTAMP '2024-01-01 23:00:00', "
        "TIMESTAMP '2024-01-02 01:00:00') AS d, "
        "dateDiff('month', TIMESTAMP '2024-01-31 00:00:00', "
        "TIMESTAMP '2024-02-01 00:00:00') AS m, "
        "dateDiff('week', TIMESTAMP '2024-01-07 00:00:00', "
        "TIMESTAMP '2024-01-08 00:00:00') AS w"
    ).collect()[0]
    assert (r.d, r.m, r.w) == (1, 1, 1)


def test_array_lambda_arg_order(engine):
    # CH higher-order fns take the lambda first; Spark takes the array
    r = engine.sql(
        "SELECT arrayMap(x -> x * 2, [1,2,3]) AS m, "
        "arrayFilter(x -> x > 1, [1,2,3]) AS f, "
        "arrayCount(x -> x > 1, [1,2,3]) AS c, "
        "arrayFirst(x -> x > 1, [1,2,3]) AS fst, "
        "arraySum(x -> x * 2.0, [1,2,3]) AS s, "
        "arrayMap((x, y) -> x + y, [1,2], [10,20]) AS z, "
        "arrayMap(x -> arraySum(arrayMap(y -> y * 1.0, x)), [[1,2],[3]]) AS nested"
    ).collect()[0]
    assert r.m == [2, 4, 6] and r.f == [2, 3] and r.c == 2 and r.fst == 2
    assert r.s == 12.0 and r.z == [11, 22] and r.nested == [3.0, 3.0]


def test_parametric_quantiles(engine):
    r = engine.sql(
        "SELECT quantileExact(0.5)(l_quantity) AS med, "
        "quantilesExact(0.25, 0.75)(l_quantity) AS qs FROM lineitem"
    ).collect()[0]
    assert r.med > 0 and len(r.qs) == 2 and r.qs[0] <= r.qs[1]


def test_ornull_distinct_combinators(engine):
    r = engine.sql(
        "SELECT sumOrNull(l_quantity) AS s, maxOrNull(l_quantity) AS mx, "
        "sumDistinct(l_linenumber) AS sd, countDistinct(l_returnflag) AS cd "
        "FROM lineitem WHERE l_quantity < 0"
    ).collect()[0]
    assert r.s is None and r.mx is None and r.sd is None and r.cd == 0


def test_system_numbers(engine):
    # hw02.md:110 benchmark shape: unbounded generator + LIMIT/OFFSET
    rows = engine.sql("SELECT * FROM system.numbers LIMIT 3 OFFSET 5").collect()
    assert [r.number for r in rows] == [5, 6, 7]


def test_to_start_of_interval(engine):
    # the exact lecture_20.md:29 shape: 60-second tumbling buckets
    rows = engine.sql(
        "SELECT toStartOfInterval(ts, INTERVAL 60 SECOND) AS t, count() AS n "
        "FROM events GROUP BY t ORDER BY t LIMIT 3"
    ).collect()
    assert len(rows) == 3
    assert all(r.t.second == 0 for r in rows)
    rows2 = engine.sql(
        "SELECT toStartOfInterval(ts, INTERVAL 1 DAY) AS d, count() AS n "
        "FROM events GROUP BY d"
    ).collect()
    assert all(r.d.hour == 0 and r.d.minute == 0 for r in rows2)
    # toIntervalDay(1) constructor form (hw14.md usage)
    rows3 = engine.sql(
        "SELECT toStartOfInterval(ts, toIntervalDay(1)) AS d, count() AS n "
        "FROM events GROUP BY d"
    ).collect()
    assert {r.d for r in rows3} == {r.d for r in rows2}
    # calendar units bucket by months-since-epoch, aligned to 1970-01
    import datetime as _dt

    cal = engine.sql(
        "SELECT toStartOfInterval(toDate('2024-03-17'), INTERVAL 1 month) AS m, "
        "toStartOfInterval(toDate('2024-11-17'), INTERVAL 1 quarter) AS q, "
        "toStartOfInterval(toDate('2024-03-17'), INTERVAL 1 year) AS y, "
        "toStartOfInterval(toDate('2024-04-17'), INTERVAL 3 months) AS m3"
    ).collect()[0]
    assert (cal.m, cal.q, cal.y, cal.m3) == (
        _dt.date(2024, 3, 1), _dt.date(2024, 10, 1),
        _dt.date(2024, 1, 1), _dt.date(2024, 4, 1),
    )


def test_date_fn_variants(engine):
    import datetime as dt

    r = engine.sql(
        "SELECT toStartOfWeek(toDate('2024-03-07')) AS w1, "
        "toStartOfWeek(toDate('2024-03-07'), 1) AS w2, "
        "parseDateTimeBestEffortUS('3/5/2024 10:00:00') AS us, "
        "parseDateTimeBestEffortUSOrZero('bogus') AS z"
    ).collect()[0]
    assert r.w1 == r.w2 == dt.date(2024, 3, 4)
    assert r.us == dt.datetime(2024, 3, 5, 10, 0)
    assert r.z == dt.datetime(1970, 1, 1)


def test_clause_combinations(engine, tmp_path):
    # FINAL + LIMIT BY: engine-semantics collapse composes with per-group cut
    engine.execute(
        "CREATE TABLE ev_combo (user_id UInt64, event_type String, v UInt64) "
        "ENGINE = ReplacingMergeTree(v) ORDER BY (user_id, event_type)"
    )
    engine.tables["ev_combo"].path = str(tmp_path / "ev_combo")
    engine.execute(
        "INSERT INTO ev_combo VALUES (1,'a',1),(1,'a',2),(2,'a',1),(3,'b',1),(4,'b',2)"
    )
    rows = engine.sql(
        "SELECT user_id, event_type, v FROM ev_combo FINAL "
        "ORDER BY v DESC, user_id LIMIT 1 BY event_type"
    ).collect()
    assert sorted((int(r.user_id), r.event_type, int(r.v)) for r in rows) == [
        (1, "a", 2),
        (4, "b", 2),
    ]
    # WITH TOTALS composes with HAVING; params compose with LIMIT BY
    r2 = engine.sql(
        "SELECT l_returnflag, count() AS n FROM lineitem "
        "GROUP BY l_returnflag WITH TOTALS HAVING n > 0"
    ).collect()
    assert sum(1 for r in r2 if r.l_returnflag is None) == 1
    r3 = engine.sql(
        "SELECT l_returnflag, l_linestatus, count() AS n FROM lineitem "
        "WHERE l_quantity < {q:UInt8} GROUP BY l_returnflag, l_linestatus "
        "ORDER BY n DESC LIMIT 1 BY l_returnflag",
        q=10,
    ).collect()
    flags = [r.l_returnflag for r in r3]
    assert len(flags) == len(set(flags)) > 0
    engine.execute("DROP TABLE ev_combo")


def test_array_literal_rewrite_properties():
    from hypothesis import given, strategies as st
    from otus_clickhouse_spark.functions.dialect import _rewrite_array_literals

    # indexing stays indexing; literals become array(); balance preserved
    assert _rewrite_array_literals("SELECT arr[1] FROM t") == "SELECT arr[1] FROM t"
    assert _rewrite_array_literals("SELECT [1,2,3]") == "SELECT array(1,2,3)"
    assert (
        _rewrite_array_literals("SELECT [a[1], [2]]") == "SELECT array(a[1], array(2))"
    )

    atom = st.sampled_from(["1", "'x'", "col", "a[1]", "[1,2]", "f(x)", "[[0]]"])

    @given(st.lists(atom, min_size=1, max_size=6))
    def balanced(parts):
        sql = "SELECT " + ", ".join(parts)
        out = _rewrite_array_literals(sql)
        assert out.count("(") == out.count(")")
        # brackets that remain are exactly the subscript ones
        assert out.count("[") == out.count("]")
        # string literals never rewritten
        assert _rewrite_array_literals("SELECT '[1,2]'") == "SELECT '[1,2]'"

    balanced()


def test_merge_table_function_sql(engine, spark):
    # merge(currentDatabase(), 'regex') in raw SQL (S8; lecture_09.md:645)
    o = engine.table("orders")
    o.where("o_orderstatus = 'F'").createOrReplaceTempView("mrg_f")
    o.where("o_orderstatus = 'O'").createOrReplaceTempView("mrg_o")
    rows = engine.sql(
        "SELECT _table, count() AS n FROM merge(currentDatabase(), 'mrg_[fo]') "
        "GROUP BY _table ORDER BY _table"
    ).collect()
    assert [r._table for r in rows] == ["mrg_f", "mrg_o"]
    assert all(r.n > 0 for r in rows)
    spark.catalog.dropTempView("mrg_f")
    spark.catalog.dropTempView("mrg_o")


def test_file_table_function_sql(engine, sf_dir, tmp_path):
    # file('path', 'Format') in raw SQL (S5; lecture_11.md:404-410)
    rows = engine.sql(
        f"SELECT count() AS n FROM file('{sf_dir}/nation.parquet', 'Parquet')"
    ).collect()
    assert rows[0].n == 25
    # CSV round trip with a format name from the CH map
    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    rows2 = engine.sql(
        f"SELECT count() AS n FROM file('{p}', 'CSVWithNames')"
    ).collect()
    assert rows2[0].n == 2
    # url() via file:// scheme (S4; driver-side fetch, network-free)
    rows3 = engine.sql(
        f"SELECT count() AS n FROM url('file://{p}', 'CSVWithNames')"
    ).collect()
    assert rows3[0].n == 2


def test_generate_random_and_system_one(engine):
    rows = engine.sql(
        "SELECT count() AS n FROM (SELECT * FROM generateRandom('a UInt64, b Float64', 1) LIMIT 100)"
    ).collect()
    assert rows[0].n == 100
    one = engine.sql("SELECT 41 + 1 AS v FROM system.one").collect()
    assert len(one) == 1 and one[0].v == 42


def test_client_suffixes_stripped(engine):
    # \G terminator and trailing block comments are client-side artifacts
    n1 = engine.sql("SELECT count() AS n FROM lineitem \\G").collect()[0].n
    n2 = engine.sql(
        "SELECT count() AS n FROM lineitem FORMAT Null /* captured trace */"
    ).collect()[0].n
    n3 = engine.sql("SELECT count() AS n FROM lineitem").collect()[0].n
    assert n1 == n2 == n3


def test_any_if_combinators(engine):
    r = engine.sql(
        "SELECT anyIf(l_linestatus, l_returnflag = 'R') AS a, "
        "anyLastIf(l_linestatus, l_returnflag = 'R') AS b, "
        "medianIf(l_quantity, l_returnflag = 'R') AS m "
        "FROM lineitem"
    ).collect()[0]
    assert r.a is not None and r.b is not None and r.m > 0


def test_system_tables_in_sql(engine):
    # D8: monitoring-style queries hit system.* directly from SQL
    rows = engine.sql(
        "SELECT name FROM system.tables WHERE name = 'lineitem'"
    ).collect()
    assert [r.name for r in rows] == ["lineitem"]
    n = engine.sql(
        "SELECT count() AS n FROM system.columns WHERE table = 'lineitem'"
    ).collect()[0].n
    assert n > 10
    # clusterAllReplicas fan-out unwraps (lecture_16.md:90-98)
    rows2 = engine.sql(
        "SELECT count() AS n FROM clusterAllReplicas('main', system.tables)"
    ).collect()
    assert rows2[0].n >= 1
    # settings readable like lecture_08.md:273-377 probes
    s = engine.sql(
        "SELECT count() AS n FROM system.settings"
    ).collect()[0].n
    assert s > 0


def test_array_sort_lambda_and_tuple_element(engine):
    r = engine.sql(
        "SELECT arraySort(x -> -x, [1,3,2]) AS s, "
        "arrayReverseSort(x -> x, [1,3,2]) AS rs, "
        "arraySort([3,1,2]) AS plain, "
        "countSubstrings('aXaXa', 'X') AS cs, "
        "tupleElement((1, 'a'), 2) AS t2, "
        "tupleElement(named_struct('k', 7), 'k') AS tk"
    ).collect()[0]
    assert list(r.s) == [3, 2, 1] and list(r.rs) == [3, 2, 1]
    assert list(r.plain) == [1, 2, 3]
    assert r.cs == 2 and r.t2 == "a" and r.tk == 7


def test_long_tail_scalar_functions(engine):
    row = engine.sql(
        "SELECT formatReadableQuantity(1234567.0) AS q, "
        "formatReadableTimeDelta(93784) AS td, "
        "bitTest(5, 0) AS b0, bitTest(5, 1) AS b1, "
        "bitShiftLeft(1, 10) AS shl, bitAnd(12, 10) AS ba, "
        "round(greatCircleDistance(37.6173, 55.7558, 30.3141, 59.9386) / 1000, 0) AS km, "
        "toLastDayOfMonth(TIMESTAMP '2024-02-10 00:00:00') AS ld, "
        "dateName('weekday', TIMESTAMP '2024-01-01 00:00:00') AS wd, "
        "multiSearchAny('hello world', ['x', 'wor']) AS ms, "
        "isFinite(1.0) AS fin, isNaN(double('nan')) AS nan_, "
        "lower(hex(MD5('abc'))) AS h, "
        "arrayCumSum(CAST(array(1, 2, 3) AS ARRAY<DOUBLE>)) AS cs, "
        "arrayDifference(CAST(array(1, 4, 9) AS ARRAY<DOUBLE>)) AS ad, "
        "arrayCompact(['a', 'a', 'b', 'a']) AS ac, "
        "startsWith('spark', 'sp') AS sw, "
        "timeSlot(TIMESTAMP '2024-01-01 10:47:00') AS slt"
    ).collect()[0]
    assert row["q"] == "1.23 million"
    assert row["td"] == "1 days, 2 hours, 3 minutes, 4 seconds"
    assert (row["b0"], row["b1"]) == (1, 0)
    assert row["shl"] == 1024 and row["ba"] == 8
    # Moscow → St. Petersburg ≈ 634 km
    assert 600 <= row["km"] <= 670
    assert str(row["ld"]) == "2024-02-29"
    assert row["wd"] == "Monday"
    assert row["ms"] == 1
    assert row["fin"] and row["nan_"]
    assert row["h"] == "900150983cd24fb0d6963f7d28e17f72"
    assert row["cs"] == [1.0, 3.0, 6.0]
    assert row["ad"] == [0.0, 3.0, 5.0]
    assert row["ac"] == ["a", "b", "a"]
    assert row["sw"] is True
    assert str(row["slt"]) == "2024-01-01 10:30:00"


def test_array_reduce_sql(engine):
    row = engine.sql(
        "SELECT arrayReduce('sum', CAST(array(1, 2, 3) AS ARRAY<DOUBLE>)) AS s, "
        "arrayReduce('max', array(3, 1, 2)) AS mx, "
        "arrayReduce('uniq', array('a', 'b', 'a')) AS u, "
        "arrayReduce('avg', CAST(array(2, 4) AS ARRAY<DOUBLE>)) AS a"
    ).collect()[0]
    assert (row["s"], row["mx"], row["u"], row["a"]) == (6.0, 3, 2, 3.0)


def test_subscripts_are_one_based(engine, spark):
    # ClickHouse arr[1] = FIRST element; arr[-1] = last; maps by key
    df = spark.createDataFrame([(["x", "y", "z"],)], "arr array<string>")
    df.createOrReplaceTempView("sub_t")
    row = engine.sql(
        "SELECT arr[1] AS first, arr[-1] AS last, "
        "splitByChar(',', 'a,b,c')[2] AS second FROM sub_t"
    ).collect()[0]
    assert (row["first"], row["last"], row["second"]) == ("x", "z", "b")


def test_chained_subscripts(engine, spark):
    df = spark.createDataFrame([([["a", "b"], ["c"]],)], "m array<array<string>>")
    df.createOrReplaceTempView("sub2_t")
    assert engine.sql("SELECT m[1][2] AS v FROM sub2_t").collect()[0]["v"] == "b"


def test_subscripts_leave_string_literals_alone(engine, spark):
    row = engine.sql(
        "SELECT extractAll('a1b22c', '[0-9]+') AS xs, match('q7', 'q[0-9]') AS m"
    ).collect()[0]
    assert list(row["xs"]) == ["1", "22"]
    assert row["m"] is True


def test_position_haystack_first(engine):
    row = engine.sql(
        "SELECT position('hello world', 'world') AS p, "
        "position('hello', 'zz') AS missing, "
        "positionCaseInsensitive('Hello', 'hel') AS ci, "
        "arrayElement(['a', 'b'], 2) AS el"
    ).collect()[0]
    assert (row["p"], row["missing"], row["ci"], row["el"]) == (7, 0, 1, "b")


def test_order_by_nulls_ch_semantics(engine, spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 1.0)], "id int, v double"
    )
    df.createOrReplaceTempView("nul_t")
    asc = [r["id"] for r in engine.sql("SELECT id FROM nul_t ORDER BY v").collect()]
    assert asc == [3, 1, 2]          # NULL last under ASC (CH semantics)
    desc = [r["id"] for r in
            engine.sql("SELECT id FROM nul_t ORDER BY v DESC").collect()]
    assert desc == [2, 1, 3]         # NULL first under DESC
    # explicit NULLS wins; window ORDER BY + frame unaffected
    ex = [r["id"] for r in
          engine.sql("SELECT id FROM nul_t ORDER BY v ASC NULLS FIRST").collect()]
    assert ex == [2, 3, 1]
    w = engine.sql(
        "SELECT id, sum(v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING "
        "AND CURRENT ROW) AS rs FROM nul_t ORDER BY id LIMIT 2"
    ).collect()
    assert len(w) == 2


def test_stat_moment_rewrites():
    """skewPop is a plain alias; kurtPop needs the +3 structural offset
    (CH raw kurtosis vs Spark excess kurtosis)."""
    from otus_clickhouse_spark.functions.dialect import translate

    out = translate("SELECT skewPop(v), kurtPop(v + 1) FROM t GROUP BY k")
    assert "skewness(v)" in out
    assert "(kurtosis(v + 1) + 3.0)" in out
    assert "kurtPop" not in out and "skewPop" not in out


def test_round3_function_additions(engine):
    """splitByString / mapKeys-mapValues / age vs dateDiff semantics /
    toTime / great-circle distance (§2.8 breadth)."""
    r = engine.sql(
        "SELECT splitByString('::', 'a::b::c') AS parts,"
        "       mapKeys(map('k1', 'v1', 'k2', 'v2')) AS ks,"
        "       mapValues(map('k1', 'v1')) AS vs,"
        "       mapContains(map('k1', 'v1'), 'k2') AS has_k2"
    ).collect()[0]
    assert r.parts == ["a", "b", "c"]
    assert sorted(r.ks) == ["k1", "k2"] and r.vs == ["v1"] and r.has_k2 is False

    # dateDiff counts crossed boundaries; age counts FULL elapsed units
    r = engine.sql(
        "SELECT dateDiff('year', toDateTime('2023-12-31 00:00:00'),"
        "                toDateTime('2024-01-01 00:00:00')) AS dd,"
        "       age('year', toDateTime('2023-12-31 00:00:00'),"
        "           toDateTime('2024-01-01 00:00:00')) AS ag,"
        "       age('day', toDateTime('2024-01-01 00:00:00'),"
        "           toDateTime('2024-01-03 12:00:00')) AS days"
    ).collect()[0]
    assert r.dd == 1 and r.ag == 0 and r.days == 2

    # sub-second units, and hard errors instead of a silently-reversed
    # datediff fallback for bad units/arity
    r = engine.sql(
        "SELECT age('millisecond', toDateTime('2024-01-01 00:00:00'),"
        "           toDateTime('2024-01-01 00:00:01')) AS ms,"
        "       age('microsecond', toDateTime('2024-01-01 00:00:00'),"
        "           toDateTime('2024-01-01 00:00:01')) AS us"
    ).collect()[0]
    assert r.ms == 1000 and r.us == 1_000_000
    import pytest as _pytest

    with _pytest.raises(Exception, match="unsupported unit"):
        engine.sql("SELECT age('fortnight', toDate('2024-01-01'), toDate('2024-02-01'))")
    with _pytest.raises(Exception, match="expects"):
        engine.sql("SELECT age(toDate('2024-01-01'), toDate('2024-02-01'))")
    # optional 4th timezone arg (CH age(unit, start, end[, tz])) is
    # accepted — epoch differences are tz-invariant
    r = engine.sql(
        "SELECT age('day', toDateTime('2024-01-01 00:00:00'),"
        "           toDateTime('2024-01-03 12:00:00'), 'UTC') AS days"
    ).collect()[0]
    assert r.days == 2

    r = engine.sql(
        "SELECT toTime(toDateTime('2024-05-17 13:45:10')) AS t,"
        "       greatCircleDistance(37.6176, 55.7558, 30.3141, 59.9386) AS msk_spb"
    ).collect()[0]
    assert str(r.t) == "1970-01-02 13:45:10"
    assert 625_000 < r.msk_spb < 645_000  # Moscow→St.Petersburg ≈ 634 km


def test_orderless_window_rewrite(engine):
    """hw07.md:96: CH allows row_number()/rank() with no ORDER BY in the
    OVER ("arbitrary order"); the dialect supplies
    monotonically_increasing_id() — partition-local, no global sort.
    Windows that already order, and orderless AGGREGATE windows (whole-
    partition frames), must pass through untouched."""
    from otus_clickhouse_spark.functions.dialect import translate

    assert "monotonically_increasing_id" in translate(
        "SELECT row_number() OVER () FROM t")
    assert "monotonically_increasing_id" in translate(
        "SELECT ntile(4) OVER (PARTITION BY a) FROM t")
    assert "monotonically_increasing_id" not in translate(
        "SELECT row_number() OVER (PARTITION BY a ORDER BY b) FROM t")
    assert "monotonically_increasing_id" not in translate(
        "SELECT sum(x) OVER (PARTITION BY a) FROM t")
    rows = engine.sql(
        "SELECT user_id FROM (SELECT row_number() OVER () AS user_id "
        "FROM numbers(5))"
    ).collect()
    assert sorted(r.user_id for r in rows) == [1, 2, 3, 4, 5]


def test_array_constructors_and_transform4(engine):
    """CH array-family stragglers: scalar range() (half-open, empty at
    n=0, start/stop/step forms; the FROM range() table relation is
    untouched), countEqual, emptyArrayT() typed empties, and the 4-arg
    transform lookup (the 2-arg Spark lambda HOF passes through)."""
    got = engine.sql(
        "SELECT range(5) AS r5, range(0) AS r0, range(2, 6) AS rse,"
        "       range(0, 10, 3) AS rstep, countEqual([1,2,1], 1) AS ce,"
        "       emptyArrayString() AS es, emptyArrayUInt64() AS ei,"
        "       transform(2, [1,2,3], ['a','b','c'], 'z') AS hit,"
        "       transform(9, [1,2,3], ['a','b','c'], 'z') AS miss,"
        "       transform(array(1,2), x -> x + 1) AS hof"
    ).collect()[0]
    assert list(got.r5) == [0, 1, 2, 3, 4] and list(got.r0) == []
    assert list(got.rse) == [2, 3, 4, 5] and list(got.rstep) == [0, 3, 6, 9]
    assert got.ce == 2 and list(got.es) == [] and list(got.ei) == []
    assert got.hit == "b" and got.miss == "z" and list(got.hof) == [2, 3]
    assert engine.sql("SELECT count() AS n FROM range(7)").collect()[0].n == 7


def test_public_surface_extras(engine):
    """Public-CH-surface stragglers not used by the course but kept for
    switch-over completeness: topLevelDomain, isIPv4String (octet-range
    strict), toUUID normalization, levenshteinDistance/editDistance,
    farmHash64 (same xxhash64 mapping as cityHash64/sipHash64), and the
    rand64/randCanonical generators."""
    r = engine.sql(
        "SELECT topLevelDomain('https://a.b.com/x') AS tld,"
        "       isIPv4String('1.2.3.4') AS ip_ok,"
        "       isIPv4String('999.2.3.4') AS ip_bad,"
        "       toUUID('61F0C404-5CB3-11E7-907B-A6006AD3DBA0') AS uu,"
        "       levenshteinDistance('kitten', 'sitting') AS lev,"
        "       editDistance('abc', 'abd') AS ed,"
        "       farmHash64('abc') = cityHash64('abc') AS fh,"
        "       rand64() AS r64, randCanonical() AS rc"
    ).collect()[0]
    assert r.tld == "com" and r.ip_ok and not r.ip_bad
    assert r.uu == "61f0c404-5cb3-11e7-907b-a6006ad3dba0"
    assert r.lev == 3 and r.ed == 1 and r.fh
    assert isinstance(r.r64, int) and 0.0 <= r.rc < 1.0


def test_date_string_stragglers(engine):
    """Remaining CH date/string surface: makeDate/makeDateTime,
    toYYYYMMDDhhmmss, toRelativeDayNum, toStartOfISOYear (2016-01-01
    sits in ISO week 53 of 2015, whose year starts 2014-12-29),
    substringIndex, tokens."""
    r = engine.sql(
        "SELECT toString(makeDate(2024, 2, 29)) AS md,"
        "       toString(makeDateTime(2024, 2, 29, 12, 30, 0)) AS mdt,"
        "       toYYYYMMDDhhmmss(toDateTime('2024-05-01 12:30:45')) AS ts14,"
        "       toRelativeDayNum(toDateTime('1970-01-03 00:00:00')) AS rdn,"
        "       toString(toStartOfISOYear(toDateTime('2024-05-15 00:00:00'))) AS iso24,"
        "       toString(toStartOfISOYear(toDateTime('2016-01-01 00:00:00'))) AS iso16,"
        "       substringIndex('a.b.c', '.', 2) AS si,"
        "       tokens('a b  c!') AS tok"
    ).collect()[0]
    assert r.md == "2024-02-29" and r.mdt == "2024-02-29 12:30:00"
    assert r.ts14 == 20240501123045 and r.rdn == 2
    assert r.iso24 == "2024-01-01" and r.iso16 == "2014-12-29"
    assert r.si == "a.b" and list(r.tok) == ["a", "b", "c"]


def test_search_family_stragglers(engine):
    """String-search stragglers: multiSearchFirstIndex, hasSubsequence
    (resume-after-hit fold), hasToken (tokens() tokenizer),
    replaceOne, and the set-based ngramSearch/ngramDistance fuzzy
    4-gram match."""
    r = engine.sql(
        "SELECT multiSearchFirstIndex('hello world', ['foo', 'wor']) AS idx,"
        "       multiSearchFirstIndex('hello', ['x']) AS idx0,"
        "       hasSubsequence('hello', 'hlo') AS ss1,"
        "       hasSubsequence('hello', 'oh') AS ss0,"
        "       hasToken('a bc d', 'bc') AS tok1,"
        "       hasToken('abc d', 'bc') AS tok0,"
        "       replaceOne('aaa', 'a', 'b') AS rep,"
        "       ngramSearch('hello world', 'world') AS ns,"
        "       ngramDistance('abcd', 'abcd') AS nd0,"
        "       ngramDistance('abcd', 'zzzz') AS nd1"
    ).collect()[0]
    assert (r.idx, r.idx0) == (2, 0)
    assert (r.ss1, r.ss0, r.tok1, r.tok0) == (1, 0, 1, 0)
    assert r.rep == "baa" and r.ns == 1.0 and r.nd0 == 0.0 and r.nd1 == 1.0


def test_array_manipulation_stragglers(engine):
    """Array-manipulation stragglers, all textual rewrites so element
    types survive: arrayFold (CH lambda-first → aggregate), rotate/
    shift/resize/push/pop, arrayUnion, hasAll, arrayFirstIndex/
    arrayLast/arrayLastIndex, arrayJaccardIndex, arrayPartialSort
    (full sort — a valid refinement of 'first n sorted')."""
    r = engine.sql(
        "SELECT arrayFold((acc, x) -> acc + x, [1,2,3], 0) AS fold,"
        "       arrayRotateLeft([1,2,3,4], 5) AS rotl,"
        "       arrayRotateRight([1,2,3,4], 1) AS rotr,"
        "       arrayShiftLeft([1,2,3], 1, 0) AS shl,"
        "       arrayUnion([1,2], [2,3]) AS un,"
        "       arrayResize([1,2], 4, 0) AS res_up,"
        "       arrayResize([1,2,3], 2, 0) AS res_dn,"
        "       arrayPushFront([2,3], 1) AS pf,"
        "       arrayPopFront([1,2,3]) AS pop,"
        "       hasAll([1,2,3], [1,3]) AS ha1,"
        "       hasAll([1,2], [1,9]) AS ha0,"
        "       arrayFirstIndex(x -> x > 1, [1,2,3]) AS fi,"
        "       arrayLast(x -> x < 3, [1,2,3]) AS la,"
        "       arrayLastIndex(x -> x > 9, [1,2]) AS li0,"
        "       arrayJaccardIndex([1,2], [2,3]) AS jac,"
        "       arrayPartialSort(2, [3,1,2]) AS ps"
    ).collect()[0]
    assert r.fold == 6 and list(r.rotl) == [2, 3, 4, 1]
    assert list(r.rotr) == [4, 1, 2, 3] and list(r.shl) == [2, 3, 0]
    assert list(r.un) == [1, 2, 3] and list(r.res_up) == [1, 2, 0, 0]
    assert list(r.res_dn) == [1, 2] and list(r.pf) == [1, 2, 3]
    assert list(r.pop) == [2, 3] and r.ha1 and not r.ha0
    assert r.fi == 2 and r.la == 2 and r.li0 == 0
    assert abs(r.jac - 1 / 3) < 1e-9 and list(r.ps) == [1, 2, 3]


def test_json_and_map_stragglers(engine):
    """JSON introspection family (JSONHas/Length/Keys/Raw/ArrayRaw/
    Type/Bool + simpleJSON/visitParam aliases) and map combinators
    (mapFromArrays, mapFilter/mapApply lambda-first rewrites,
    mapUpdate with b-wins merge)."""
    r = engine.sql(
        """SELECT JSONHas('{"a":1}', 'a') AS h1,
                  JSONHas('{"a":1}', 'z') AS h0,
                  JSONLength('{"a":1,"b":2}') AS lo,
                  JSONLength('[1,2,3]') AS la,
                  JSONExtractKeys('{"a":1,"b":2}') AS ks,
                  JSONExtractRaw('{"a":{"b":1}}', 'a') AS raw,
                  JSONExtractArrayRaw('{"a":[1,2]}', 'a') AS arr,
                  JSONExtractArrayRaw('{"a":[]}', 'a') AS arr_empty,
                  JSONExtractArrayRaw('{"a":[1,2]}', 'zzz') AS arr_missing,
                  JSONType('{"a":{"x":1}}', 'a') AS t_obj,
                  JSONType('{"a":3}', 'a') AS t_int,
                  JSONExtractBool('{"a":true}', 'a') AS b,
                  simpleJSONExtractInt('{"a":7}', 'a') AS si,
                  mapFromArrays(['a','b'], [1,2])['b'] AS mfa,
                  size(mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2))) AS mf,
                  mapUpdate(map('a', 1, 'c', 3), map('a', 2))['a'] AS mu,
                  mapApply((k, v) -> (upper(k), v * 10), map('a', 1))['A'] AS ma
        """
    ).collect()[0]
    assert (r.h1, r.h0, r.lo, r.la) == (1, 0, 2, 3)
    assert list(r.ks) == ["a", "b"] and r.raw == '{"b":1}'
    assert list(r.arr) == ["1", "2"]
    # empty/missing array is [], not [NULL, NULL] (sequence(0,-1) descends)
    assert list(r.arr_empty) == [] and list(r.arr_missing) == []
    assert (r.t_obj, r.t_int) == ("Object", "Int64") and r.b and r.si == 7
    assert (r.mfa, r.mf, r.mu, r.ma) == (2, 1, 2, 10)


def test_format_parse_datetime_and_checked_casts(engine):
    """formatDateTime/parseDateTime share one C-specifier table
    (longest-first so %Y never half-matches %y); toDecimalN picks the
    CH type's precision; accurateCast maps to CAST (CH additionally
    REJECTS inexact conversions like 3.7→Int64 — Spark truncates; use
    ANSI mode for the throwing behavior) and accurateCastOrNull to
    TRY_CAST."""
    r = engine.sql(
        "SELECT formatDateTime(toDateTime('2024-05-01 12:30:45'), '%d/%m/%y') AS s1,"
        "       formatDateTime(toDateTime('2024-05-01 12:30:45'), '%a %b') AS s2,"
        "       toString(parseDateTime('2024-05-01', '%Y-%m-%d')) AS p,"
        "       toString(toDecimal32('3.14', 2)) AS d32,"
        "       toString(toDecimal64(3.14159, 4)) AS d64,"
        "       accurateCast(37, 'Int64') AS ac,"
        "       accurateCastOrNull('xx', 'Int64') AS acn"
    ).collect()[0]
    assert r.s1 == "01/05/24" and r.s2 == "Wed May"
    assert r.p == "2024-05-01 00:00:00"
    assert r.d32 == "3.14" and r.d64 == "3.1416"
    assert r.ac == 37 and r.acn is None


def test_window_aliases_and_row_neighbors(engine):
    """CH window-function aliases (lagInFrame/leadInFrame/denseRank/
    percentRank → Spark's builtins) and block-order row functions
    (runningDifference, neighbor with offset sign and default) over
    the orderless-window order."""
    r = engine.sql(
        "SELECT number, lagInFrame(number) OVER (ORDER BY number) AS lg,"
        "       percentRank() OVER (ORDER BY number) AS pr"
        " FROM numbers(3) ORDER BY number"
    ).collect()
    assert [x.lg for x in r] == [None, 0, 1]
    assert [x.pr for x in r] == [0.0, 0.5, 1.0]
    rd = engine.sql("SELECT runningDifference(number) AS v FROM numbers(4)").collect()
    assert sorted(x.v for x in rd) == [0, 1, 1, 1]
    nb = engine.sql(
        "SELECT number, neighbor(number, -1, 99) AS v FROM numbers(3)"
    ).collect()
    assert {(x.number, x.v) for x in nb} == {(0, 99), (1, 0), (2, 1)}


def test_misc_math_and_bitmask_stragglers(engine):
    """Misc/math stragglers: assumeNotNull/toNullable reduce to
    identity, ifNotFinite, bitmaskToArray/List, roundToExp2, roundDown,
    iterative-Euclid gcd/lcm, truncate toward zero."""
    r = engine.sql(
        "SELECT assumeNotNull(5) AS ann,"
        "       ifNotFinite(double('inf'), 99.0) AS inf_r,"
        "       ifNotFinite(2.5, 99.0) AS fin_r,"
        "       bitmaskToArray(10) AS bta,"
        "       bitmaskToList(10) AS btl,"
        "       roundToExp2(100) AS r2,"
        "       roundDown(5.7, [1.0, 3.0, 6.0, 9.0]) AS rd,"
        "       gcd(12, 18) AS g, lcm(4, 6) AS l,"
        "       truncate(-3.77, 1) AS tr"
    ).collect()[0]
    assert r.ann == 5 and r.inf_r == 99.0 and r.fin_r == 2.5
    assert list(r.bta) == [2, 8] and r.btl == "2,8"
    assert r.r2 == 64 and r.rd == 3.0
    assert r.g == 6 and r.l == 12 and r.tr == -3.7


def test_time_bucket_and_week_stragglers(engine):
    """toStartOfFive/Ten/FifteenMinutes + toStartOfSecond buckets;
    toWeek/toYearWeek in CH/MySQL mode 0 (Sunday-start, week 0 before
    the year's first Sunday — 2024-01-03 is week 0 and belongs to
    yearweek 202353); Julian-day and packed-integer date conversions."""
    r = engine.sql(
        "SELECT toStartOfFiveMinutes(toDateTime('2024-05-15 12:34:56')) AS m5,"
        "       toStartOfFifteenMinutes(toDateTime('2024-05-15 12:34:56')) AS m15,"
        "       toWeek(toDateTime('2024-05-15 12:00:00')) AS w,"
        "       toWeek(toDateTime('2024-01-03 12:00:00')) AS w0,"
        "       toYearWeek(toDateTime('2024-01-03 12:00:00')) AS yw,"
        "       toModifiedJulianDay('2024-05-15') AS mjd,"
        "       toString(YYYYMMDDToDate(20240515)) AS pd,"
        "       toString(YYYYMMDDhhmmssToDateTime(20240515123456)) AS pdt"
    ).collect()[0]
    assert str(r.m5) == "2024-05-15 12:30:00" and str(r.m15) == "2024-05-15 12:30:00"
    assert (r.w, r.w0, r.yw) == (19, 0, 202353)
    assert r.mjd == 60445
    assert r.pd == "2024-05-15" and r.pdt == "2024-05-15 12:34:56"


def test_default_prefix_strip_skips_string_literals():
    """The `default.<table>` identifier strip must not rewrite string
    LITERALS: `WHERE s = 'default.netflix'` keeps its value even when
    netflix is a registered table."""
    out = translate(
        "SELECT * FROM default.netflix WHERE s = 'default.netflix'",
        tables={"netflix": object()},
    )
    assert "FROM netflix" in out
    assert "'default.netflix'" in out


def test_crypto_hash_binary_composition(engine):
    """CH's MD5/SHA* return raw bytes — hex(MD5(x)) must yield the
    digest hex (the builtin-shadowing gap is closed by a textual
    rewrite for MD5/SHA1 and BINARY-returning UDFs for SHA224/256/512)."""
    row = engine.sql(
        "SELECT lower(hex(MD5('abc'))) AS m, lower(hex(SHA1('abc'))) AS s1, "
        "lower(hex(SHA256('abc'))) AS s256, length(hex(SHA512('abc'))) AS l512, "
        "md5('abc') AS spark_md5"
    ).collect()[0]
    assert row.m == "900150983cd24fb0d6963f7d28e17f72"
    assert row.s1 == "a9993e364706816aba3e25717850c26c9cd0d89d"
    assert row.s256 == "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"
    assert row.l512 == 128
    # lowercase md5 stays Spark-native (hex string)
    assert row.spark_md5 == "900150983cd24fb0d6963f7d28e17f72"


def test_url_function_batch(engine):
    row = engine.sql(
        "SELECT domainWithoutWWW('http://www.example.com/') AS dw, "
        "pathFull('https://example.com/a/b?c=1') AS pf, "
        "fragment('https://example.com/a#frag') AS fr, "
        "extractURLParameters('http://x.com/?a=1&b=2') AS ps, "
        "firstSignificantSubdomain('http://news.example.com.ua/') AS fs1, "
        "firstSignificantSubdomain('http://sub.example.org/') AS fs2, "
        "encodeURLComponent('a b&c') AS enc, "
        "decodeURLComponent('a%20b+c') AS dec, "
        "tryBase64Decode('YWJj') AS b64, tryBase64Decode('!!!') AS b64bad"
    ).collect()[0]
    assert row.dw == "example.com"
    assert row.pf == "/a/b?c=1" and row.fr == "frag"
    assert row.ps == ["a=1", "b=2"]
    assert (row.fs1, row.fs2) == ("example", "example")
    assert row.enc == "a%20b%26c" and row.dec == "a b+c"
    assert row.b64 == "abc" and row.b64bad == ""


def test_geo_function_batch(engine):
    row = engine.sql(
        "SELECT pointInPolygon((0.5, 0.5), [(0.0,0.0),(1.0,0.0),(1.0,1.0),(0.0,1.0)]) AS inside, "
        "pointInPolygon((1.5, 0.5), [(0.0,0.0),(1.0,0.0),(1.0,1.0),(0.0,1.0)]) AS outside, "
        # concave L-shape: the notch is outside
        "pointInPolygon((1.5, 1.5), [(0.0,0.0),(2.0,0.0),(2.0,1.0),(1.0,1.0),(1.0,2.0),(0.0,2.0)]) AS notch, "
        "geohashEncode(-5.60302734375, 42.593994140625, 5) AS gh5, "
        "geohashEncode(13.361389, 38.115556, 8) AS gh8"
    ).collect()[0]
    assert (row.inside, row.outside, row.notch) == (1, 0, 0)
    assert row.gh5 == "ezs42"          # classic geohash reference point
    assert row.gh8 == "sqc8b49r"       # Palermo example from the geohash spec


def test_ip_url_misc_batch(engine):
    """Eighth function-sweep batch: IP range/v6 checks, URL cuts, query
    normalization, arrayAUC, timeSlots (2- and 3-arg), boundingRatio,
    sigmoid."""
    row = engine.sql(
        "SELECT cutToFirstSignificantSubdomain('http://news.example.com.ua/') AS c1, "
        "cutToFirstSignificantSubdomain('http://sub.example.org/') AS c2, "
        "cutWWW('http://www.example.com/p') AS cw, "
        "normalizeQuery(\"SELECT 12 + x FROM t WHERE s = 'abc'\") AS nq, "
        "isIPv6String('2001:db8::1') AS v6a, isIPv6String('192.168.1.1') AS v6b, "
        "isIPAddressInRange('192.168.1.7', '192.168.0.0/16') AS ipr_t, "
        "isIPAddressInRange('192.169.1.7', '192.168.0.0/16') AS ipr_f, "
        "IPv4CIDRToRange('192.168.5.2', 16) AS rng, "
        "round(arrayAUC(CAST(array(0.1,0.4,0.35,0.8) AS ARRAY<DOUBLE>), array(0,0,1,1)), 2) AS auc, "
        "size(timeSlots(TIMESTAMP '2024-01-01 10:05:00', CAST(3600 AS BIGINT))) AS ts2, "
        "round(sigmoid(0.0), 2) AS sg"
    ).collect()[0]
    # boundingRatio expands to max/min aggregates — its own query
    br = engine.sql(
        "SELECT boundingRatio(x, y) AS br "
        "FROM (SELECT 1.0 x, 2.0 y UNION ALL SELECT 3.0, 6.0)"
    ).collect()[0].br
    assert row.c1 == "example.com.ua" and row.c2 == "example.org"
    assert row.cw == "http://example.com/p"
    assert row.nq == "SELECT ? + x FROM t WHERE s = ?"
    assert (row.v6a, row.v6b) == (True, False)
    assert (row.ipr_t, row.ipr_f) == (True, False)
    assert (row.rng.lo, row.rng.hi) == ("192.168.0.0", "192.168.255.255")
    assert row.auc == 0.75
    assert row.ts2 == 3
    assert float(br) == 2.0 and row.sg == 0.5


def test_ninth_batch_array_vector_functions(engine):
    """Ninth sweep batch: enumerate/fill array family, moving-window
    aggregates, min/maxMap, DateTime64 epoch conversions, vector
    distance family, monthName full-name fix."""
    row = engine.sql(
        "SELECT arrayEnumerateDense([10,20,10,30]) AS den, "
        "arrayEnumerateUniq([10,20,10,10]) AS unq, "
        "arrayReverseSort([2,3,1]) AS rs, "
        "arrayReverseSort(x -> -x, [2,3,1]) AS rsl, "
        "arrayFill(x -> x != 0, [1,0,0,5,0]) AS ff, "
        "arrayReverseFill(x -> x != 0, [1,0,0,5,0]) AS rf, "
        "toUnixTimestamp64Milli(TIMESTAMP '2024-01-01 00:00:00') AS ms, "
        "dateTrunc('month', TIMESTAMP '2024-07-15 10:00:00') AS dt, "
        "monthName(DATE '2024-07-15') AS mn, "
        "arrayDotProduct(CAST(array(1.0,2.0) AS ARRAY<DOUBLE>), CAST(array(3.0,4.0) AS ARRAY<DOUBLE>)) AS dp, "
        "arrayL2Distance(CAST(array(0.0,0.0) AS ARRAY<DOUBLE>), CAST(array(3.0,4.0) AS ARRAY<DOUBLE>)) AS l2, "
        "round(cosineDistance(CAST(array(1.0,0.0) AS ARRAY<DOUBLE>), CAST(array(0.0,1.0) AS ARRAY<DOUBLE>)), 2) AS cd, "
        "L2Norm(CAST(array(3.0,4.0) AS ARRAY<DOUBLE>)) AS n2, "
        "LinfNorm(CAST(array(-7.0,4.0) AS ARRAY<DOUBLE>)) AS ni"
    ).collect()[0]
    assert row.den == [1, 2, 1, 3] and row.unq == [1, 1, 2, 3]
    assert row.rs == [3, 2, 1] and row.rsl == [1, 2, 3]
    assert row.ff == [1, 1, 1, 5, 5] and row.rf == [1, 5, 5, 5, 0]
    assert row.ms == 1704067200000
    assert str(row.dt) == "2024-07-01 00:00:00"
    assert row.mn == "July"
    assert (row.dp, row.l2, row.cd, row.n2, row.ni) == (11.0, 5.0, 1.0, 5.0, 7.0)
    # group-level members need their own aggregate queries
    mv = engine.sql(
        "SELECT groupArrayMovingSum(x) AS s, groupArrayMovingAvg(x) AS a, "
        "minMap(m) AS mn, maxMap(m) AS mx "
        "FROM (SELECT 2.0 x, map('a', 1) m UNION ALL SELECT 4.0, map('a', 3, 'b', 2))"
    ).collect()[0]
    assert sorted(mv.s) == [2.0, 6.0] and sorted(mv.a) == [2.0, 3.0]
    assert mv.mn == {"a": 1, "b": 2} and mv.mx == {"a": 3, "b": 2}


def test_tenth_batch_misc_functions(engine):
    """Tenth sweep batch: readable decimal sizes, bit positions, erf
    (A&S 7.1.26 approximation), UUID byte conversions, toDecimalString,
    alphaTokens, character ngrams."""
    row = engine.sql(
        "SELECT formatReadableDecimalSize(1500000.0) AS rd, "
        "bitPositionsToArray(10) AS bp, "
        "round(erf(1.0), 4) AS e1, round(erf(-1.0), 4) AS e2, "
        "UUIDNumToString(UUIDStringToNum('612f3c40-5d3b-217e-707b-6a546a3d7b29')) AS uu, "
        "reverseUTF8('abc') AS rv, "
        "toDecimalString(1.5, 3) AS ds, "
        "alphaTokens('abc1def2') AS at, "
        "ngrams('abcd', 3) AS ng, ngrams('ab', 3) AS ngs"
    ).collect()[0]
    assert row.rd == "1.50 MB"
    assert row.bp == [1, 3]
    assert (row.e1, row.e2) == (0.8427, -0.8427)
    assert row.uu == "612f3c40-5d3b-217e-707b-6a546a3d7b29"
    assert row.rv == "cba" and row.ds == "1.500"
    assert row.at == ["abc", "def"]
    assert row.ng == ["abc", "bcd"] and row.ngs == []


def test_eleventh_batch_interval_string_quantile(engine):
    """Eleventh sweep batch: the full toInterval* constructor family,
    countMatches, regexpExtract, bitHammingDistance, byte-set
    stringJaccardIndex, and the parametric quantileGK sketch form."""
    row = engine.sql(
        "SELECT DATE '2024-01-31' + toIntervalMonth(1) AS m, "
        "DATE '2024-01-01' + toIntervalWeek(2) AS w, "
        "TIMESTAMP '2024-01-01 00:00:00' + toIntervalHour(25) AS h, "
        "DATE '2024-01-01' + toIntervalYear(1) AS y, "
        "countMatches('aaa', 'a') AS cm, "
        "regexpExtract('abc123', '([a-z]+)([0-9]+)', 2) AS rx, "
        "bitHammingDistance(7, 5) AS hd, "
        "round(stringJaccardIndex('abc', 'bcd'), 2) AS ja"
    ).collect()[0]
    assert str(row.m) == "2024-02-29"
    assert str(row.w).startswith("2024-01-15")
    assert str(row.h) == "2024-01-02 01:00:00"
    assert str(row.y) == "2025-01-01"
    assert (row.cm, row.rx, row.hd, row.ja) == (3, "123", 1, 0.5)
    gk = engine.sql(
        "SELECT quantileGK(100, 0.5)(x) AS v "
        "FROM (SELECT 1.0 x UNION ALL SELECT 2.0 UNION ALL SELECT 3.0)"
    ).collect()[0].v
    assert float(gk) == 2.0


def test_scalar_cte_rewrite(engine):
    """CH scalar CTEs (hw11.md:38): WITH <expr> AS name substitutes a
    scalar; the standard name AS (subquery) form passes through; mixed
    lists keep the standard part."""
    rows = engine.sql(
        "with '{\"1\": \"login\"}' as cte "
        "select JSONExtractString(cte, '1') AS t from numbers(2)"
    ).collect()
    assert [r.t for r in rows] == ["login", "login"]
    # scalar subquery form
    got = engine.sql(
        "WITH (SELECT max(number) FROM numbers(5)) AS mx "
        "SELECT mx + 1 AS v"
    ).collect()[0].v
    assert got == 5
    # standard CTE untouched
    got = engine.sql(
        "WITH a AS (SELECT 1 AS x) SELECT x FROM a"
    ).collect()[0].x
    assert got == 1
    # mixed: standard + scalar in one WITH list
    got = engine.sql(
        "WITH a AS (SELECT 2 AS x), 10 AS k SELECT x * k AS v FROM a"
    ).collect()[0].v
    assert got == 20
    # a string literal containing the name is never substituted
    got = engine.sql("WITH 5 AS lim SELECT 'lim' AS s, lim AS v").collect()[0]
    assert (got.s, got.v) == ("lim", 5)


def test_twelfth_batch_completeness_audit(engine):
    """Round-7 completeness-audit batch: UTF8 case aliases, notLike,
    first-occurrence regexp replace, multiSearchFirstPosition,
    hasSubstr (contiguous subsequence incl. the sequence()-descends
    guard), arrayProduct, toISOYear (week's-Thursday rule), max2/min2,
    negate, arrayWithConstant, fromModifiedJulianDay round-trip, map
    arithmetic over key unions, mapPopulateSeries gap fill, URL
    port/cutFragment, pointInEllipses, typed empty arrays,
    materialize-as-identity, firstValue/lastValue window aliases."""
    row = engine.sql(
        "SELECT lowerUTF8('AbC') AS lo, upperUTF8('aBc') AS up, "
        "notLike('spark', 'sp%') AS nl1, notLike('spark', 'q%') AS nl2, "
        "replaceRegexpOne('aXbXc', 'X', '-') AS rr, "
        "multiSearchFirstPosition('hello world', array('xx', 'world', 'lo')) AS ms, "
        "multiSearchFirstPosition('hello', array('zz')) AS ms0, "
        "hasSubstr(array('a','b','c','d'), array('b','c')) AS hs1, "
        "hasSubstr(array('a','b','c','d'), array('b','d')) AS hs2, "
        "hasSubstr(array('a'), array('a','b')) AS hs3, "
        "arrayProduct(array(2.0, 3.0, 4.0)) AS ap, "
        "toISOYear(DATE'2021-01-01') AS iy1, toISOYear(DATE'2021-01-04') AS iy2, "
        "max2(3.0, 7.0) AS mx, min2(3.0, 7.0) AS mn, negate(5.0) AS ng, "
        "arrayWithConstant(3, 1.5) AS awc, "
        "toModifiedJulianDay('2020-01-01') AS mjd, "
        "fromModifiedJulianDay(58849) AS fmjd, "
        "mapAdd(map('a', 1.0, 'b', 2.0), map('b', 5.0, 'c', 1.0)) AS ma, "
        "mapSubtract(map('a', 3.0), map('a', 1.0, 'z', 2.0)) AS msu, "
        "mapPopulateSeries(map(1, 10.0, 4, 40.0)) AS mps, "
        "port('https://user@host.com:8123/path') AS pt, "
        "port('https://host.com/path') AS pt0, "
        "cutFragment('http://x.com/a#frag') AS cf, "
        "pointInEllipses(1.0, 0.0, 0.0, 0.0, 2.0, 1.0) AS pe1, "
        "pointInEllipses(3.0, 0.0, 0.0, 0.0, 2.0, 1.0) AS pe2, "
        "emptyArrayUInt8() AS ea, emptyArrayString() AS eas, "
        "materialize(42) AS mat, currentUser() AS cu"
    ).collect()[0]
    assert (row.lo, row.up) == ("abc", "ABC")
    assert (row.nl1, row.nl2) == (False, True)
    assert row.rr == "a-bXc"  # first occurrence only
    assert row.ms == 4  # 'lo' at position 4 beats 'world' at 7
    assert row.ms0 == 0
    assert (row.hs1, row.hs2, row.hs3) == (True, False, False)
    assert row.ap == 24.0
    # 2021-01-01 falls in ISO week 53 of 2020; Jan 4 is ISO 2021
    assert (row.iy1, row.iy2) == (2020, 2021)
    assert (row.mx, row.mn, row.ng) == (7.0, 3.0, -5.0)
    assert row.awc == [1.5, 1.5, 1.5]
    assert row.mjd == 58849 and str(row.fmjd) == "2020-01-01"
    assert dict(row.ma) == {"a": 1.0, "b": 7.0, "c": 1.0}
    assert dict(row.msu) == {"a": 2.0, "z": -2.0}
    assert dict(row.mps) == {1: 10.0, 2: 0.0, 3: 0.0, 4: 40.0}
    assert (row.pt, row.pt0) == (8123, 0)
    assert row.cf == "http://x.com/a"
    assert (row.pe1, row.pe2) == (True, False)
    assert row.ea == [] and row.eas == []
    assert row.mat == 42 and row.cu == "default"
    # window aliases rewrite to Spark's snake_case forms
    rows = engine.sql(
        "SELECT number, firstValue(number) OVER w AS fv, "
        "lastValue(number) OVER w AS lv FROM numbers(3) "
        "WINDOW w AS (ORDER BY number ROWS BETWEEN UNBOUNDED PRECEDING "
        "AND UNBOUNDED FOLLOWING)"
    ).collect()
    assert all(r.fv == 0 and r.lv == 2 for r in rows)
    # currentUser() tracks set_user
    engine.execute("CREATE USER IF NOT EXISTS batch12_user")
    try:
        engine.set_user("batch12_user")
        assert engine.sql("SELECT currentUser() AS u").collect()[0].u == "batch12_user"
    finally:
        engine.set_user("default")
        engine.execute("DROP USER IF EXISTS batch12_user")


def test_advice_r7_replace_regexp_one_and_rand_constant(engine):
    """ADVICE r7 fixes: (1) replaceRegexpOne must treat the replacement
    literally — the old concat('$1', r) parsed '$1' + '2' as group $12
    (IndexOutOfBounds or wrong output) and read '$'/'\\' in r as group
    references; (2) randConstant() is constant across the rows of a
    query (CH per-block semantics — the old rand() mapping redrew per
    row)."""
    row = engine.sql(
        "SELECT replaceRegexpOne('banana', 'a', '2') AS digit_repl, "
        "replaceRegexpOne('cost', 'o', '$') AS dollar_repl, "
        "replaceRegexpOne('a-b', '-', '\\\\') AS backslash_repl, "
        "replaceRegexpOne('aXbXc', 'X', '-') AS first_only, "
        "replaceRegexpOne('pay', 'p', '$5.') AS dollar_digit"
    ).collect()[0]
    assert row.digit_repl == "b2nana"
    assert row.dollar_repl == "c$st"
    assert row.backslash_repl == "a\\b"
    assert row.first_only == "a-bXc"
    assert row.dollar_digit == "$5.ay"
    vals = [
        r.rc
        for r in engine.sql("SELECT randConstant() AS rc FROM numbers(100)").collect()
    ]
    assert len(set(vals)) == 1, "randConstant must be one value for the whole query"
    assert 0.0 <= vals[0] < 1.0


# ------------------------------------------ polymorphic calls by type


class _CountingSpark:
    """A session proxy counting the statements sent to ``sql`` (one
    analysis each); ``fail`` replaces the first call's outcome."""

    def __init__(self, spark, fail=None):
        self._spark, self._fail, self.calls = spark, fail, 0

    def sql(self, *args, **kwargs):
        self.calls += 1
        if self._fail is not None and self.calls == 1:
            raise self._fail
        return self._spark.sql(*args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._spark, name)


@pytest.fixture
def poly(engine, spark, monkeypatch):
    """``poly_t (s string, a array<int>, sa array<string>, d decimal(20,0),
    aa array<array<int>>, m map<string,int>)``, two rows, and a counting
    session on ``engine``."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW poly_t AS SELECT * FROM VALUES "
        "('abc', array(1, 2, 3), array('x', 'yy'), CAST(1 AS DECIMAL(20,0)), "
        " array(array(1, 2), array(3)), map('k', 1)), "
        "('', array(4, 5, 6), array('z'), CAST(2 AS DECIMAL(20,0)), "
        " array(array(4)), map('q', 2)) "
        "AS v(s, a, sa, d, aa, m)"
    )
    counting = _CountingSpark(spark)
    monkeypatch.setattr(engine, "spark", counting)
    yield engine, counting


def _sites(*cols):
    return ", ".join(f"length({c}) AS c{i}" for i, c in enumerate(cols))


# statement, rows (ordered by s DESC), analyses = 1 + calls repaired
_POLY_CASES = [
    ("SELECT LENGTH(a) AS n FROM poly_t ORDER BY s DESC", [(3,), (3,)], 2),
    ("SELECT length (a) AS n FROM poly_t ORDER BY s DESC", [(3,), (3,)], 2),
    (
        f"SELECT {_sites(*['s'] * 8, 'a')} FROM poly_t ORDER BY s DESC",
        [(3,) * 8 + (3,), (0,) * 8 + (3,)],
        2,
    ),
    (
        f"SELECT {_sites('s', 'a', 's', 'sa', 's', 'a', 's')} FROM poly_t ORDER BY s DESC",
        [(3, 3, 3, 2, 3, 3, 3), (0, 3, 0, 1, 0, 3, 0)],
        4,
    ),
    (
        f"SELECT {_sites('a', 's', 'sa', 'a', 's', 'sa', 'a')} FROM poly_t ORDER BY s DESC",
        [(3, 3, 2, 3, 3, 2, 3), (3, 0, 1, 3, 0, 1, 3)],
        6,
    ),
    (
        "SELECT length(a) AS n, a[d] AS x, length(s) AS l, a[d + 1] AS y "
        "FROM poly_t ORDER BY s DESC",
        [(3, 1, 3, 2), (3, 5, 0, 6)],
        4,
    ),
]


@pytest.mark.parametrize("sql,rows,analyses", _POLY_CASES)
def test_polymorphic_calls_repaired_where_catalyst_fails(poly, sql, rows, analyses):
    eng, counting = poly
    df = eng.sql(sql)
    assert counting.calls == analyses
    assert [tuple(r) for r in df.collect()] == rows


def test_polymorphic_length_inside_a_lambda(poly):
    eng, counting = poly
    rows = eng.sql("SELECT arrayMap(x -> length(x), aa) AS n FROM poly_t ORDER BY s DESC").collect()
    assert [r.n for r in rows] == [[2, 1], [1]]
    assert counting.calls == 2


@pytest.mark.parametrize(
    "sql,analyses,fragment",
    [
        # the flip is tried once, then size(struct) is not a call it repairs
        ("SELECT length(struct(1, 2)) AS n", 2, "length(struct(1, 2))"),
        # a map keeps its key type: Catalyst reports another condition
        ("SELECT m[d] AS v FROM poly_t", 1, "element_at(m, d)"),
    ],
)
def test_unrepairable_call_raises_the_original_error(poly, sql, analyses, fragment):
    from pyspark.errors import AnalysisException

    eng, counting = poly
    with pytest.raises(AnalysisException) as err:
        eng.sql(sql)
    assert counting.calls == analyses
    assert err.value.getQueryContext()[0].fragment() == fragment


class _Ctx:
    def __init__(self, start, fragment):
        self._start, self._fragment = start, fragment

    def startIndex(self):
        return self._start

    def stopIndex(self):
        return self._start + len(self._fragment) - 1

    def fragment(self):
        return self._fragment


def _mismatch(start, fragment):
    from pyspark.errors import AnalysisException

    return AnalysisException(
        message="length mismatch",
        errorClass="DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
        contexts=[_Ctx(start, fragment)],
    )


def test_span_text_must_equal_the_fragment():
    from otus_clickhouse_spark.engine import _repair_call

    # an error inside a SQL function's body reports the body's span,
    # here f's length(x) at the offset of the statement's own length(s)
    sql = "SELECT length(s), f(a) FROM t"
    assert _repair_call(sql, _mismatch(7, "length(x)")) is None
    assert _repair_call(sql, _mismatch(7, "length(s)")) == "SELECT size(s), f(a) FROM t"
    assert _repair_call(
        "SELECT element_at(a, CAST(d AS INT))", _mismatch(7, "element_at(a, CAST(d AS INT))")
    ) is None


def test_mismatched_span_is_not_rewritten(engine, spark, monkeypatch):
    err = _mismatch(7, "length(x)")
    counting = _CountingSpark(spark, fail=err)
    monkeypatch.setattr(engine, "spark", counting)
    with pytest.raises(type(err)) as got:
        engine.sql("SELECT length(s) AS n FROM (SELECT 'ab' AS s)")
    assert got.value is err and counting.calls == 1


def test_non_analysis_error_propagates_unchanged(engine, spark, monkeypatch):
    err = RuntimeError("executor lost")
    counting = _CountingSpark(spark, fail=err)
    monkeypatch.setattr(engine, "spark", counting)
    with pytest.raises(RuntimeError) as got:
        engine.sql("SELECT length('abc') AS n")
    assert got.value is err and counting.calls == 1


def _is_spark_sql(call: ast.Call) -> bool:
    f = call.func
    return isinstance(f, ast.Attribute) and f.attr == "sql" and ast.unparse(f.value).endswith("spark")


def _self_method(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) and f.value.id == "self":
        return f.attr
    return None


def _analysis_retries(tree) -> set[str]:
    """Functions with an ``except`` handler that calls ``spark.sql``,
    directly or through a ``self.`` method of the module that does."""
    funcs = [f for f in ast.walk(tree) if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))]
    calls = {f.name: [c for c in ast.walk(f) if isinstance(c, ast.Call)] for f in funcs}
    reach = {n for n, cs in calls.items() if any(_is_spark_sql(c) for c in cs)}
    while True:
        more = {n for n, cs in calls.items() if any(_self_method(c) in reach for c in cs)}
        if more <= reach:
            break
        reach |= more
    found = set()
    for f in funcs:
        for h in ast.walk(f):
            if isinstance(h, ast.ExceptHandler) and any(
                isinstance(c, ast.Call) and (_is_spark_sql(c) or _self_method(c) in reach)
                for c in ast.walk(h)
            ):
                found.add(f.name)
    return found


def test_only_the_repair_loop_retries_analysis():
    """In engine.py only ``Engine._analyze`` calls ``spark.sql`` inside
    an ``except`` handler: a second retry path stays out."""
    path = Path(__file__).resolve().parents[1] / "otus_clickhouse_spark" / "engine.py"
    assert _analysis_retries(ast.parse(path.read_text(), str(path))) == {"_analyze"}


def test_retry_guard_catches_both_shapes():
    src = (
        "class E:\n"
        "    def sql(self, t):\n"
        "        try:\n"
        "            return self.spark.sql(t)\n"
        "        except Exception as exc:\n"
        "            return self._retry(t, exc)\n"
        "    def _retry(self, t, exc):\n"
        "        return self.spark.sql(t.replace('length(', 'size('))\n"
        "    def probe(self, t):\n"
        "        try:\n"
        "            self.run(t)\n"
        "        except ValueError:\n"
        "            spark.sql('SELECT 1')\n"
        "    def run(self, t):\n"
        "        try:\n"
        "            return self.spark.sql(t)\n"
        "        except ValueError:\n"
        "            return None\n"
    )
    assert _analysis_retries(ast.parse(src)) == {"sql", "probe"}


def test_to_datetime_of_an_integer_is_epoch_seconds(engine, tmp_path):
    row = engine.sql(
        "SELECT toDateTime(1700000000) AS i, toDateTime(toDate('2024-01-02')) AS d, "
        "toDateTime('2024-01-02 03:04:05') AS s"
    ).collect()[0]
    assert str(row.i) == "2023-11-14 22:13:20"
    assert (str(row.d), str(row.s)) == ("2024-01-02 00:00:00", "2024-01-02 03:04:05")
    engine.execute("CREATE TABLE ts_t (k UInt32, ts DateTime) ENGINE = MergeTree ORDER BY k")
    engine.tables["ts_t"].path = str(tmp_path / "ts_t")
    try:
        engine.execute(
            "INSERT INTO ts_t SELECT toUInt32(number) AS k, "
            "toDateTime(number * 86400) AS ts FROM numbers(3)"
        )
        rows = engine.run("SELECT k, toString(ts) AS ts FROM ts_t ORDER BY k")
        assert [(int(r[0]), r[1]) for r in rows] == [
            (0, "1970-01-01 00:00:00"),
            (1, "1970-01-02 00:00:00"),
            (2, "1970-01-03 00:00:00"),
        ]
    finally:
        engine.execute("DROP TABLE IF EXISTS ts_t")


# ------------------------------------- mutation fragments get the repair


@pytest.fixture
def arr_t(engine, tmp_path):
    """``arr_t (k UInt32, s String, a Array(Int32))``: three rows, one
    of them with an empty array."""
    engine.execute(
        "CREATE TABLE arr_t (k UInt32, s String, a Array(Int32)) ENGINE = MergeTree ORDER BY k"
    )
    engine.tables["arr_t"].path = str(tmp_path / "arr_t")
    engine.execute("INSERT INTO arr_t VALUES (1, 'x', [1, 2]), (2, '', []), (3, 'zz', [3])")
    yield engine
    engine.execute("DROP TABLE arr_t")


def _arr_rows(engine) -> list[tuple]:
    return [tuple(r) for r in engine.sql("SELECT k, s, a FROM arr_t ORDER BY k").collect()]


@pytest.mark.parametrize(
    "statement",
    [
        "ALTER TABLE arr_t DELETE WHERE length(a) = 0",
        "ALTER TABLE arr_t DELETE WHERE empty(a)",
        "DELETE FROM arr_t WHERE length(a) = 0",
    ],
)
def test_delete_predicate_gets_the_select_repair(arr_t, statement):
    where = statement.split(" WHERE ")[1]
    assert [r.k for r in arr_t.sql(f"SELECT k FROM arr_t WHERE {where}").collect()] == [2]
    arr_t.execute(statement)
    assert _arr_rows(arr_t) == [(1, "x", [1, 2]), (3, "zz", [3])]


def test_update_assignment_and_predicate_get_the_select_repair(arr_t):
    arr_t.execute(
        "ALTER TABLE arr_t UPDATE s = toString(length(a) + length(s)) "
        "WHERE notEmpty(a) AND length(s) < 2"
    )
    assert _arr_rows(arr_t) == [(1, "3", [1, 2]), (2, "", []), (3, "zz", [3])]


def test_alias_column_keeps_the_repair_across_inserts(arr_t, tmp_path):
    """The stored ALIAS text is re-attached on every re-registration
    (each INSERT refreshes the view) through the same repair, cast to
    the declared type; an untyped ALIAS keeps the expression's type,
    until DROP COLUMN removes it. Declared by ALTER ADD COLUMN, or at
    CREATE with and without a type."""
    arr_t.execute("ALTER TABLE arr_t ADD COLUMN n UInt64 ALIAS length(a)")
    tables = {"arr_t": "decimal(20,0)"}
    for name, decl, dtype in [
        ("arr_typed", "n UInt64 ALIAS length(a)", "decimal(20,0)"),
        ("arr_untyped", "n ALIAS length(a)", "int"),
    ]:
        arr_t.execute(
            f"CREATE TABLE {name} (k UInt32, s String, a Array(Int32), {decl}) "
            "ENGINE = MergeTree ORDER BY k"
        )
        arr_t.tables[name].path = str(tmp_path / name)
        arr_t.execute(f"INSERT INTO {name} (k, s, a) VALUES (1, 'x', [1, 2]), (2, '', []), (3, 'zz', [3])")
        tables[name] = dtype

    def n_of(name):
        df = arr_t.sql(f"SELECT k, n FROM {name} ORDER BY k")
        return df.schema["n"].dataType.simpleString(), [(r.k, r.n) for r in df.collect()]

    for name, dtype in tables.items():
        assert n_of(name) == (dtype, [(1, 2), (2, 0), (3, 1)])
        arr_t.execute(f"INSERT INTO {name} (k, s, a) VALUES (4, 'w', [4, 5, 6])")
        assert n_of(name) == (dtype, [(1, 2), (2, 0), (3, 1), (4, 3)])
        arr_t.execute(f"ALTER TABLE {name} DELETE WHERE n = 0")
        assert [r.k for r in arr_t.sql(f"SELECT k FROM {name} ORDER BY k").collect()] == [1, 3, 4]
        # DROP COLUMN forgets the ALIAS, so no re-registration brings it back
        arr_t.execute(f"ALTER TABLE {name} DROP COLUMN n")
        assert arr_t.sql(f"SELECT * FROM {name}").columns == ["k", "s", "a"]
        arr_t.execute(f"INSERT INTO {name} (k, s, a) VALUES (5, 'v', [])")
        assert arr_t.sql(f"SELECT * FROM {name}").columns == ["k", "s", "a"]
    for name in ("arr_typed", "arr_untyped"):
        arr_t.execute(f"DROP TABLE {name}")


def test_default_column_backfill_gets_the_select_repair(arr_t):
    arr_t.execute("ALTER TABLE arr_t ADD COLUMN m UInt64 DEFAULT length(a)")
    got = [(r.k, r.m) for r in arr_t.sql("SELECT k, m FROM arr_t ORDER BY k").collect()]
    assert got == [(1, 2), (2, 0), (3, 1)]


def test_unrepairable_mutation_predicate_raises_the_original_error(arr_t):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException) as err:
        arr_t.execute("ALTER TABLE arr_t DELETE WHERE length(struct(k, s)) = 0")
    assert err.value.getQueryContext()[0].fragment() == "length(struct(k, s))"
    assert len(_arr_rows(arr_t)) == 3


def test_fragment_error_spans_are_relative_to_the_fragment(engine):
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    frame = engine.local_frame([(1, [1, 2])], "k int, a array<int>")
    with pytest.raises(AnalysisException) as err:
        frame.select(F.expr("k + length(a) > 2"))
    ctx = err.value.getQueryContext()[0]
    assert (ctx.startIndex(), ctx.stopIndex(), ctx.fragment()) == (4, 12, "length(a)")
    col = engine._analyze("k + length(a) > 2", frame=frame)
    assert frame.select(col.alias("v")).collect()[0].v is True


# ------------------------------------ repaired attempts log nothing


class _Records(logging.Handler):
    def __init__(self):
        super().__init__()
        self.records = []

    def emit(self, record):
        self.records.append(record)


@pytest.fixture
def context_log():
    """Records PySpark's ``SQLQueryContextLogger`` writes."""
    from pyspark.logger import PySparkLogger

    logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    handler = _Records()
    logger.addHandler(handler)
    yield handler.records
    logger.removeHandler(handler)


def test_repaired_attempts_log_nothing(poly, context_log):
    eng, counting = poly
    sql, rows, analyses = _POLY_CASES[4]
    assert [tuple(r) for r in eng.sql(sql).collect()] == rows
    assert counting.calls == analyses == 6
    assert context_log == []


def test_error_raised_by_the_repair_loop_is_unchanged_and_unlogged(poly, context_log):
    from pyspark.errors import AnalysisException

    eng, _ = poly
    with pytest.raises(AnalysisException) as err:
        eng.sql("SELECT length(struct(1, 2)) AS n")
    assert err.value.getCondition() == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE"
    assert err.value.getQueryContext()[0].fragment() == "length(struct(1, 2))"
    assert context_log == []


def test_errors_outside_the_repair_loop_still_log(engine, spark, monkeypatch, context_log):
    """Another thread's failure logs while this one is inside the loop."""
    from pyspark.errors import AnalysisException

    def other_thread():
        with pytest.raises(AnalysisException):
            spark.sql("SELECT length(array(1)) AS n")

    class Proxy(_CountingSpark):
        def sql(self, *args, **kwargs):
            if self.calls == 0:
                th = threading.Thread(target=other_thread)
                th.start()
                th.join()
            return super().sql(*args, **kwargs)

    monkeypatch.setattr(engine, "spark", Proxy(spark))
    assert engine.sql("SELECT length(array(1, 2)) AS n").collect()[0].n == 2
    assert [r.context["errorClass"] for r in context_log] == [
        "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE"
    ]
    with pytest.raises(AnalysisException):
        spark.sql("SELECT length(array(1)) AS n")
    assert len(context_log) == 2
