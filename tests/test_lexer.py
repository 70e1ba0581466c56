"""The SQL front end's single lexer (functions/lexer.py): masking,
splitting, and the literal-safety of every entry point that uses it.

Nothing here needs Spark except the two ``Engine.run`` reproducers at
the end."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from otus_clickhouse_spark.functions.dialect import translate
from otus_clickhouse_spark.functions.lexer import (
    Masked,
    call_args,
    split_statements,
    split_top,
    unquote,
)

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "otus_clickhouse_spark"


def test_mask_keeps_literals_of_every_quote_kind():
    s = "a 'keep a' `keep a` \"keep a\" $$keep a$$ a"
    lits = Masked(s)
    assert re.sub(r"\ba\b", "X", lits.text).count("X") == 2
    assert lits.unmask(re.sub(r"\ba\b", "X", lits.text)) == (
        "X 'keep a' `keep a` \"keep a\" $$keep a$$ X"
    )


def test_mask_handles_escapes_doubling_and_comments():
    s = "SELECT 'it\\'s', 'a''b' -- don't\n/* x; 'y */ FROM t"
    lits = Masked(s)
    assert "--" not in lits.text and "/*" not in lits.text
    assert "'" not in lits.text
    assert lits.unmask(lits.text) == "SELECT 'it\\'s', 'a''b' \n  FROM t"
    first, second = split_top(lits.text)
    assert lits.value(first.split()[1]) == "it's"
    assert lits.value(second.split()[0]) == "a'b"


def test_nested_masking_never_collides():
    outer = Masked("f('x', 'y')")
    inner = Masked(outer.text + " 'z'")  # masked text plus a raw literal
    assert outer.unmask(inner.unmask(inner.text)) == "f('x', 'y') 'z'"


def test_unquote_and_value():
    assert unquote("'it''s'") == "it's"
    assert unquote("'it\\'s'") == "it's"
    assert unquote("`a b`") == "a b"
    assert unquote("$$a'b$$") == "a'b"
    assert unquote("  day ") == "day"
    lits = Masked("dateDiff('day', a, b)")
    args, _ = call_args(lits.text, lits.text.index("("))
    assert lits.value(args[0]) == "day" and lits.value(args[1]) == "a"
    assert lits.unmask(lits.quote("o'k")) == "'o\\'k'"


def test_split_top_nesting_and_literals():
    assert split_top("a, f(b, c), [d, e], 'x, y'") == ["a", "f(b, c)", "[d, e]", "'x, y'"]
    assert split_top("") == [""]
    assert split_statements("SELECT (2; 3); SELECT 4") == ["SELECT (2; 3)", "SELECT 4"]


# ------------------------------------------- reproducers (one per bug)


def test_aggregate_rewrites_skip_literals():
    assert translate("SELECT 'count()' AS s") == "SELECT 'count()' AS s"
    assert translate("SELECT 'uniqExact(' AS s") == "SELECT 'uniqExact(' AS s"


def test_order_by_nulls_lands_outside_a_trailing_comment():
    out = translate("SELECT x FROM t ORDER BY x -- it's a note")
    assert re.search(r"ORDER BY x NULLS LAST\s*$", out), out


def test_order_by_nulls_after_an_escaped_quote():
    out = translate("SELECT 'it\\'s' AS s, x FROM t ORDER BY x")
    assert out == "SELECT 'it\\'s' AS s, x FROM t ORDER BY x NULLS LAST"


def test_multiif_with_an_escaped_quote_in_a_literal():
    out = translate("SELECT multiIf(x = 'a\\'b, c', 1, 2) FROM t")
    assert out == "SELECT (CASE WHEN x = 'a\\'b, c' THEN 1 ELSE 2 END) FROM t"


# ------------------------------------ literal content survives translate

_PIECES = [
    "'", "\\'", "''", '"', "`", "--", "/*", "*/", ";", "(", "[", ",",
    " ORDER BY ", "LIMIT 1 BY", "FINAL", "system.one", "count()",
    "uniqExact(", "{p:UInt8}", "default.t", "x", " ",
]
_SHAPES = [
    "SELECT {lit} AS s, x FROM t ORDER BY x",
    "SELECT count() AS n, {lit} AS s FROM default.t FINAL WHERE y = {lit}",
    "SELECT multiIf(x = {lit}, 1, 2), uniqExact(x) FROM t GROUP BY x",
    "SELECT [x, {lit}][1] AS a, dateDiff('day', d, d) FROM t ORDER BY a DESC LIMIT 1",
    "SELECT * FROM t WHERE s LIKE {lit} ORDER BY x -- {lit}",
]


def _render(content: str, doubled: bool) -> str:
    """A CH literal for ``content``: quotes escaped with a backslash or
    doubled, backslashes escaped."""
    body = content.replace("\\", "\\\\")
    return "'" + body.replace("'", "''" if doubled else "\\'") + "'"


@settings(max_examples=150, deadline=None)
@given(
    content=st.lists(st.sampled_from(_PIECES), max_size=6).map("".join),
    doubled=st.booleans(),
    shape=st.sampled_from(_SHAPES),
)
def test_translate_keeps_literals_byte_identical(content, doubled, shape):
    lit = _render(content, doubled)
    out = translate(shape.format(lit=lit), tables={"t": object()})
    # every occurrence outside a comment survives verbatim
    expect = shape.split(" -- ")[0].count("{lit}")
    assert out.count(lit) >= expect, (lit, out)
    assert Masked(out).unmask(Masked(out).text) == out  # lexes cleanly
    if "ORDER BY x" in shape:
        assert re.search(r"ORDER BY x (NULLS LAST|DESC NULLS FIRST)", out), out


# ---------------------------------------------------- one lexer guard

_QUOTES = set("'\"`")
_SCAN_METHODS = {"count", "find", "rfind", "index", "rindex", "strip", "lstrip",
                 "rstrip", "startswith", "endswith", "split"}


def _is_quote_const(node) -> bool:
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value != ""
        and set(node.value) <= _QUOTES
    )


def _quote_scans(tree) -> list[int]:
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Compare):
            ops = [node.left, *node.comparators]
            if any(_is_quote_const(o) for o in ops):
                lines.append(node.lineno)
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _SCAN_METHODS
            and any(_is_quote_const(a) for a in node.args)
        ):
            lines.append(node.lineno)
    return lines


def test_only_the_lexer_scans_for_quotes():
    """No module but functions/lexer.py tests characters against quote
    characters (``c in "'\\""``, ``.count("'")``, ``.strip("'\\"")``…):
    literal recognition lives in one place."""
    offenders = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "lexer.py":
            continue
        found = _quote_scans(ast.parse(path.read_text(), str(path)))
        if found:
            offenders[str(path.relative_to(PACKAGE))] = found
    assert not offenders, offenders


def test_guard_catches_the_scanner_shapes():
    src = "c in \"'\\\"\"\ns.count(\"'\")\nx.strip('`')\nc == '\"'\n"
    assert len(_quote_scans(ast.parse(src))) == 4


# ----------------------------------------- Engine.sql reproducers


@pytest.fixture(scope="module")
def tiny(spark):
    from otus_clickhouse_spark.engine import Engine

    eng = Engine(spark)
    spark.range(3).selectExpr("id AS x").createOrReplaceTempView("lex_tiny")
    return eng


def test_system_table_name_inside_a_literal(tiny):
    rows = tiny.run("SELECT 'system.one' AS s")
    assert [r.s for r in rows] == ["system.one"]


def test_limit_by_inside_a_literal(tiny):
    rows = tiny.run("SELECT count() AS n, 'LIMIT 1 BY x' AS s FROM lex_tiny")
    assert [(r.n, r.s) for r in rows] == [(3, "LIMIT 1 BY x")]
