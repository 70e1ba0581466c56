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
        # every part carries the mask, so any footer's schema has it
        assert all("_row_exists" in pq.read_schema(f).names for f in _files(path))
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
    rewrites both directory levels, so the next INSERT still lands."""
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
        rows = engine.run("SELECT k, toString(d), v FROM tk ORDER BY v")
        assert [tuple(r) for r in rows] == [
            (2, "2024-02-06", 2), (1, "2024-03-07", 3), (1, "2024-01-05", 11)
        ]
        dirs = {os.path.relpath(os.path.dirname(f), td.path) for f in _files(td.path)}
        assert dirs == {
            "k=1/_p_toYYYYMM_d=202401", "k=2/_p_toYYYYMM_d=202402", "k=1/_p_toYYYYMM_d=202403"
        }
    finally:
        _drop(engine, "tk")


WRITER_KEYS = ("compression", "parquet.bloom.filter.", "parquet.page.write-checksum.enabled")


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
