"""The part layout: every write of a table's own files, whether INSERT,
a mutation, OPTIMIZE or MATERIALIZE INDEX, goes through
``io.write_parts`` and ``io.rewrite_parts``.

Each file a statement leaves must be LZ4, sorted by the ORDER BY
columns, carry bloom filters on the ORDER BY and bloom-index columns
and hold no ALIAS column. The tests read the files themselves: pyarrow
for rows and columns, parquet-mr through py4j for codecs and bloom
filters. The satellites pin the rows a rewrite reads (row policies,
ALIAS columns) and the DDL keys it writes by.
"""

import ast
import glob
import os
from pathlib import Path

import pyarrow.parquet as pq
import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "otus_clickhouse_spark"


def _files(path):
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _chunks(spark, path):
    """(column, codec, bloom filter or None) of every column chunk of
    the parquet file at ``path``."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(path), conf
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    try:
        return [
            (c.getPath().toDotString(), c.getCodec().name(), reader.readBloomFilter(c))
            for block in reader.getFooter().getBlocks()
            for c in block.getColumns()
        ]
    finally:
        reader.close()


def _drop(engine, *names):
    for name in names:
        engine.execute(f"DROP TABLE IF EXISTS {name}")


STATEMENTS = {
    "insert": None,
    "alter_update": "ALTER TABLE pw UPDATE v = v + 1 WHERE k % 3 = 0",
    "alter_delete": "ALTER TABLE pw DELETE WHERE k % 5 = 0",
    "optimize": "OPTIMIZE TABLE pw",
    "optimize_final": "OPTIMIZE TABLE pw FINAL",
    "modify_column": "ALTER TABLE pw MODIFY COLUMN v UInt64",
    "materialize_index": "ALTER TABLE pw MATERIALIZE INDEX v_idx",
}


@pytest.mark.parametrize("case", list(STATEMENTS))
def test_every_write_keeps_the_part_layout(engine, tmp_path, case):
    table_engine = "ReplacingMergeTree(v)" if case == "optimize_final" else "MergeTree"
    _drop(engine, "pw")
    engine.execute(
        "CREATE TABLE pw (k UInt32, s String, v UInt32, n UInt64 ALIAS length(s)) "
        f"ENGINE = {table_engine} PARTITION BY (k % 2) ORDER BY (s, k)"
    )
    engine.execute("ALTER TABLE pw ADD INDEX v_idx v TYPE bloom_filter GRANULARITY 1")
    td = engine.tables["pw"]
    td.path = str(tmp_path / "pw")
    try:
        # distinct values in every column: parquet-mr writes no bloom
        # filter for a column chunk its dictionary fully encodes
        for block in range(2):
            engine.execute(
                f"INSERT INTO pw SELECT toUInt32(number + {1000 * block}) AS k, "
                "toString((k * 7919) % 100003) AS s, k AS v FROM numbers(150)"
            )
        if STATEMENTS[case]:
            engine.execute(STATEMENTS[case])
        files = _files(td.path)
        assert files
        for f in files:
            table = pq.read_table(f)
            assert "n" not in table.column_names, f
            keys = list(zip(table.column("s").to_pylist(), table.column("k").to_pylist()))
            assert keys == sorted(keys), f
            chunks = _chunks(engine.spark, f)
            assert {codec for _c, codec, _b in chunks} == {"LZ4"}, f
            assert {c for c, _codec, bloom in chunks if bloom is not None} == {"s", "k", "v"}, f
        assert engine.run("SELECT count() AS c, sum(n) AS n FROM pw")[0][0] > 0
    finally:
        _drop(engine, "pw")


def test_bloom_filters_are_sized_to_the_block(engine, tmp_path):
    """A 1000-key block gets a filter of a few KB, not the 1 MB default,
    and it still answers every present key and rejects absent ones."""
    _drop(engine, "pw_bloom")
    engine.execute("CREATE TABLE pw_bloom (s String, v UInt32) ENGINE = MergeTree ORDER BY s")
    td = engine.tables["pw_bloom"]
    td.path = str(tmp_path / "pw_bloom")
    try:
        engine.execute(
            "INSERT INTO pw_bloom SELECT concat('key', toString(number)) AS s, "
            "toUInt32(number) AS v FROM numbers(1000)"
        )
        binary = engine.spark._jvm.org.apache.parquet.io.api.Binary
        for f in _files(td.path):
            present = pq.read_table(f).column("s").to_pylist()
            (bloom,) = [b for c, _codec, b in _chunks(engine.spark, f) if c == "s"]
            assert bloom is not None and bloom.getBitsetSize() <= 16 * 1024
            assert all(bloom.findHash(bloom.hash(binary.fromString(k))) for k in present)
            absent = [f"absent{i}" for i in range(100)]
            hits = sum(bool(bloom.findHash(bloom.hash(binary.fromString(k)))) for k in absent)
            assert hits <= 5, hits
    finally:
        _drop(engine, "pw_bloom")


def test_mutation_keeps_rows_hidden_by_a_row_policy(engine, tmp_path):
    _drop(engine, "rp")
    engine.execute("CREATE TABLE rp (id UInt32, who String) ENGINE = MergeTree ORDER BY id")
    engine.tables["rp"].path = str(tmp_path / "rp")
    try:
        engine.execute("INSERT INTO rp VALUES (1, 'a'), (2, 'b'), (3, 'a')")
        engine.execute("CREATE ROW POLICY p ON rp USING who = 'a'")
        engine.execute("ALTER TABLE rp UPDATE who = 'a' WHERE id = 1")
        assert engine.run("SELECT count() FROM rp")[0][0] == 2
        engine.execute("DROP ROW POLICY p ON rp")
        rows = engine.run("SELECT id, who FROM rp ORDER BY id")
        assert [tuple(r) for r in rows] == [(1, "a"), (2, "b"), (3, "a")]
    finally:
        engine._row_policies.pop("rp", None)
        _drop(engine, "rp")


def test_rows_inserted_after_a_lightweight_delete_survive_a_mutation(engine, tmp_path):
    """An INSERT after ``DELETE FROM`` keeps the deleted rows hidden and
    its own rows visible, and the next rewrite keeps exactly those."""
    from otus_clickhouse_spark.plans.mutations import read_with_mask

    # a part written without the mask reads it as NULL: its rows exist
    unmasked = engine.local_frame([(1, 0), (2, 1), (3, None)], "k INT, _row_exists INT")
    assert sorted(r.k for r in read_with_mask(unmasked).collect()) == [2, 3]

    _drop(engine, "lw")
    engine.execute("CREATE TABLE lw (k UInt32, s String) ENGINE = MergeTree ORDER BY k")
    path = engine.tables["lw"].path = str(tmp_path / "lw")
    try:
        engine.execute("INSERT INTO lw VALUES (1, 'a'), (2, 'b')")
        engine.execute("DELETE FROM lw WHERE k = 1")
        engine.execute("INSERT INTO lw VALUES (3, 'c')")
        # the table records the mask; the new part is written without
        # it and reads it as NULL under the column list
        assert engine.tables["lw"].masked
        masks = sorted("_row_exists" in pq.read_schema(f).names for f in _files(path))
        assert masks == [False, True]
        assert [tuple(r) for r in engine.run("SELECT * FROM lw ORDER BY k")] == [
            (2, "b"), (3, "c")
        ]
        engine.execute("ALTER TABLE lw UPDATE s = 'x' WHERE k = 2")
        assert [tuple(r) for r in engine.run("SELECT * FROM lw ORDER BY k")] == [
            (2, "x"), (3, "c")
        ]
    finally:
        _drop(engine, "lw")


def test_tuple_partition_key_with_a_call(engine, tmp_path):
    """``PARTITION BY (k, toYYYYMM(d))`` parses whole, and a mutation
    rewrites both directory levels, so the next INSERT still lands.
    ``system.parts`` names a partition by both values, and a PARTITION
    value must give one value per key."""
    _drop(engine, "tk")
    engine.execute(
        "CREATE TABLE tk (k UInt32, d Date, v UInt32) ENGINE = MergeTree "
        "PARTITION BY (k, toYYYYMM(d)) ORDER BY v"
    )
    td = engine.tables["tk"]
    assert td.partition_by == ("k", "toYYYYMM(d)")
    td.path = str(tmp_path / "tk")
    try:
        engine.execute("INSERT INTO tk VALUES (1, '2024-01-05', 1), (2, '2024-02-06', 2)")
        engine.execute("ALTER TABLE tk UPDATE v = v + 10 WHERE k = 1")
        engine.execute("INSERT INTO tk VALUES (1, '2024-03-07', 3)")
        rows_sql = "SELECT k, toString(d), v FROM tk ORDER BY v"
        assert [tuple(r) for r in engine.run(rows_sql)] == [
            (2, "2024-02-06", 2), (1, "2024-03-07", 3), (1, "2024-01-05", 11)
        ]
        files = _files(td.path)
        dirs = {os.path.relpath(os.path.dirname(f), td.path) for f in files}
        assert dirs == {
            "k=1/_p_toYYYYMM_d=202401", "k=2/_p_toYYYYMM_d=202402", "k=1/_p_toYYYYMM_d=202403"
        }
        parts = engine.run(
            "SELECT partition, partition_id FROM system.parts WHERE table = 'tk' ORDER BY partition"
        )
        assert [tuple(r) for r in parts] == [
            ("(1,202401)", "1-202401"), ("(1,202403)", "1-202403"), ("(2,202402)", "2-202402")
        ]
        # a value per key, or the statement is refused before any file changes
        for value in ("1", "(1, 202401, 5)"):
            with pytest.raises(ValueError, match="partition key of tk has 2 values"):
                engine.execute(f"ALTER TABLE tk DROP PARTITION {value}")
        assert _files(td.path) == files
        engine.execute("ALTER TABLE tk DROP PARTITION (1, 202401)")
        assert [tuple(r) for r in engine.run(rows_sql)] == [(2, "2024-02-06", 2), (1, "2024-03-07", 3)]
        engine.execute("ALTER TABLE tk DROP PARTITION tuple(2, 202402)")
        assert [tuple(r) for r in engine.run(rows_sql)] == [(1, "2024-03-07", 3)]
    finally:
        _drop(engine, "tk")


def test_parts_shows_partition_values_unescaped(engine, tmp_path):
    """``system.parts`` shows a partition value as it was, not as the
    directory name escapes it: a tuple key quotes its strings and times,
    as ClickHouse prints it, and a numeric key stays bare."""
    _drop(engine, "tp", "tm")
    engine.execute(
        "CREATE TABLE tp (ts DateTime, s String) ENGINE = MergeTree "
        "PARTITION BY (toStartOfHour(ts), s) ORDER BY ts"
    )
    engine.execute(
        "CREATE TABLE tm (d Date, k UInt32) ENGINE = MergeTree PARTITION BY toYYYYMM(d) ORDER BY k"
    )
    engine.tables["tp"].path = str(tmp_path / "tp")
    engine.tables["tm"].path = str(tmp_path / "tm")
    try:
        engine.execute("INSERT INTO tp VALUES ('2024-01-01 10:20:00', 'a b/c')")
        engine.execute("INSERT INTO tm VALUES ('2024-01-05', 1)")
        parts = engine.run(
            "SELECT table, partition, partition_id FROM system.parts "
            "WHERE table IN ('tp', 'tm') ORDER BY table"
        )
        assert [tuple(r) for r in parts] == [
            ("tm", "202401", "202401"),
            ("tp", "('2024-01-01 10:00:00','a b/c')", "2024-01-01 10:00:00-a b/c"),
        ]
    finally:
        _drop(engine, "tp", "tm")


@pytest.mark.parametrize("declared", ["create", "modify_order_by"])
def test_expression_sort_key_orders_the_file(engine, tmp_path, declared):
    """``ORDER BY (k, toDate(d))``, declared or set by MODIFY ORDER BY,
    sorts each part by the key's value, computed for the sort and not
    stored, on INSERT and on OPTIMIZE … FINAL; FINAL collapses on it."""
    _drop(engine, "es")
    order = "(k, toDate(d))" if declared == "create" else "k"
    engine.execute(
        "CREATE TABLE es (k UInt32, d DateTime, v UInt32) "
        f"ENGINE = ReplacingMergeTree(v) ORDER BY {order}"
    )
    if declared == "modify_order_by":
        res = engine.execute("ALTER TABLE es MODIFY ORDER BY (k, toDate(d))")
        assert res == {"order_by": ("k", "toDate(d)")}
    td = engine.tables["es"]
    td.path = str(tmp_path / "es")

    def days(f):
        return [str(d)[:10] for d in pq.read_table(f).column("d").to_pylist()]

    try:
        # one task, so the block reaches the writer in this order
        block = engine.spark.sql(
            "SELECT * FROM VALUES (1, TIMESTAMP'2024-03-01 10:00:00', 1), "
            "(1, TIMESTAMP'2024-01-01 10:00:00', 1), (1, TIMESTAMP'2024-02-01 10:00:00', 1) "
            "AS t(k, d, v)"
        ).coalesce(1)
        engine.insert("es", block)
        engine.execute("INSERT INTO es VALUES (1, '2024-03-01 20:00:00', 2)")
        files = _files(td.path)
        assert sorted(map(days, files)) == [["2024-01-01", "2024-02-01", "2024-03-01"], ["2024-03-01"]]
        assert {tuple(pq.read_schema(f).names) for f in files} == {("k", "d", "v")}
        final = "SELECT toString(d) AS d, v FROM es FINAL ORDER BY d"
        want = [("2024-01-01 10:00:00", 1), ("2024-02-01 10:00:00", 1), ("2024-03-01 20:00:00", 2)]
        assert [tuple(r) for r in engine.run(final)] == want
        engine.execute("OPTIMIZE TABLE es FINAL")
        (f,) = _files(td.path)
        assert days(f) == ["2024-01-01", "2024-02-01", "2024-03-01"]
        assert [tuple(r) for r in engine.run(final)] == want
    finally:
        _drop(engine, "es")


def test_unparenthesized_expression_key_is_one_key(engine, tmp_path):
    """``PARTITION BY k % 2`` partitions by the whole expression: two
    directories, not one per ``k``."""
    _drop(engine, "pm")
    engine.execute("CREATE TABLE pm (k UInt32) ENGINE = MergeTree PARTITION BY k % 2 ORDER BY k")
    td = engine.tables["pm"]
    assert (td.partition_by, td.order_by) == (("k % 2",), ("k",))
    td.path = str(tmp_path / "pm")
    try:
        engine.execute("INSERT INTO pm SELECT toUInt32(number) AS k FROM numbers(10)")
        assert sorted(p for p in os.listdir(td.path) if "=" in p) == ["_p_k_2=0", "_p_k_2=1"]
        assert engine.run("SELECT count() FROM pm")[0][0] == 10
    finally:
        _drop(engine, "pm")


def test_added_column_is_writable_with_its_default(engine, tmp_path):
    """``ADD COLUMN x … DEFAULT 7 AFTER k`` joins the declared layout an
    INSERT aligns to: a positional VALUES row fills it, a named column
    list lands it, and an INSERT that omits it gets the DEFAULT."""
    _drop(engine, "ac")
    engine.execute("CREATE TABLE ac (k UInt32, s String) ENGINE = MergeTree ORDER BY k")
    engine.tables["ac"].path = str(tmp_path / "ac")
    try:
        engine.execute("INSERT INTO ac VALUES (1, 'a')")
        engine.execute("ALTER TABLE ac ADD COLUMN x UInt8 DEFAULT 7 AFTER k")
        engine.execute("INSERT INTO ac VALUES (2, 9, 'b')")
        engine.execute("INSERT INTO ac (k, x) SELECT toUInt32(3) AS k, toUInt8(5) AS x")
        engine.execute("INSERT INTO ac (k, s) VALUES (4, 'd')")
        rows = engine.run("SELECT k, x, s FROM ac ORDER BY k")
        assert [tuple(r) for r in rows] == [(1, 7, "a"), (2, 9, "b"), (3, 5, ""), (4, 7, "d")]
    finally:
        _drop(engine, "ac")


def test_dropped_column_leaves_the_declared_layout(engine, tmp_path):
    """After ``DROP COLUMN x`` a positional VALUES row has the new arity
    and a named column list does not bring ``x`` (or its DEFAULT) back."""
    _drop(engine, "dc")
    engine.execute(
        "CREATE TABLE dc (k UInt32, x UInt8 DEFAULT 7, s String) ENGINE = MergeTree ORDER BY k"
    )
    engine.tables["dc"].path = str(tmp_path / "dc")
    try:
        engine.execute("INSERT INTO dc VALUES (1, 5, 'a')")
        engine.execute("ALTER TABLE dc DROP COLUMN x")
        engine.execute("INSERT INTO dc VALUES (2, 'b')")
        engine.execute("INSERT INTO dc (k, s) VALUES (3, 'c')")
        assert engine.table("dc").columns == ["k", "s"]
        rows = engine.run("SELECT * FROM dc ORDER BY k")
        assert [tuple(r) for r in rows] == [(1, "a"), (2, "b"), (3, "c")]
    finally:
        _drop(engine, "dc")


def test_modified_column_takes_its_new_type_and_keeps_its_default(engine, tmp_path):
    """After ``MODIFY COLUMN v String`` an INSERT casts to ``String``,
    not the old ``UInt8``, and an omitted ``v`` still gets its DEFAULT."""
    _drop(engine, "mc")
    engine.execute("CREATE TABLE mc (k UInt32, v UInt8 DEFAULT 3) ENGINE = MergeTree ORDER BY k")
    engine.tables["mc"].path = str(tmp_path / "mc")
    try:
        engine.execute("INSERT INTO mc VALUES (1, 5)")
        engine.execute("ALTER TABLE mc MODIFY COLUMN v String")
        engine.execute("INSERT INTO mc VALUES (2, 'hello')")
        engine.execute("INSERT INTO mc (k) VALUES (3)")
        rows = engine.run("SELECT k, v FROM mc ORDER BY k")
        assert [tuple(r) for r in rows] == [(1, "5"), (2, "hello"), (3, "3")]
    finally:
        _drop(engine, "mc")


def test_renamed_column_keeps_its_values_and_default(engine, tmp_path):
    """After ``RENAME COLUMN v TO w`` a positional row, a named ``w`` and
    an omitted ``w`` (its DEFAULT) all land; none reads NULL."""
    _drop(engine, "rc")
    engine.execute(
        "CREATE TABLE rc (k UInt32, v String DEFAULT 'z') ENGINE = MergeTree ORDER BY k"
    )
    engine.tables["rc"].path = str(tmp_path / "rc")
    try:
        engine.execute("INSERT INTO rc VALUES (1, 'a')")
        engine.execute("ALTER TABLE rc RENAME COLUMN v TO w")
        engine.execute("INSERT INTO rc VALUES (2, 'b')")
        engine.execute("INSERT INTO rc (k, w) VALUES (3, 'c')")
        engine.execute("INSERT INTO rc (k) VALUES (4)")
        assert engine.table("rc").columns == ["k", "w"]
        rows = engine.run("SELECT k, w FROM rc ORDER BY k")
        assert [tuple(r) for r in rows] == [(1, "a"), (2, "b"), (3, "c"), (4, "z")]
    finally:
        _drop(engine, "rc")


WRITER_KEYS =("compression", "parquet.bloom.filter.", "parquet.page.write-checksum.enabled")


def _writer_keys(tree):
    """The string keys set through ``.option(…)``/``.options(…)`` calls
    that name a codec, a bloom filter or the page checksum."""
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        if node.func.attr not in ("option", "options"):
            continue
        args = list(node.args[:1]) + [k.arg for k in node.keywords]
        for arg in args:
            key = arg
            if isinstance(arg, ast.JoinedStr) and arg.values:
                key = arg.values[0]
            if isinstance(key, ast.Constant):
                key = key.value
            if isinstance(key, str) and any(w in key for w in WRITER_KEYS):
                yield key


def test_only_the_part_writer_sets_parquet_writer_options():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        keys = list(_writer_keys(ast.parse(path.read_text(encoding="utf-8"))))
        if keys:
            found[str(path.relative_to(PACKAGE))] = keys
    assert list(found) == ["io.py"], found
