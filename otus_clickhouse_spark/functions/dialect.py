"""ClickHouse-SQL → Spark-SQL dialect translation (SURVEY.md §7 Phase 1).

Handles the constructs that cannot be SQL UDFs:

- ``FROM <table> FINAL``  → the engine-semantics ``<table>__final`` view
  (lectures/lecture_07.md:465-481: FINAL collapses Replacing/Summing/
  Collapsing engine duplicates at read time).
- ``count()``             → ``count(*)`` (ClickHouse's zero-arg count).
- aggregate-name aliases  (``uniq`` → ``approx_count_distinct``,
  ``argMax`` → ``max_by``, ``groupArray`` → ``collect_list``, …).
- ``multiIf(c1,v1,…,else)`` → ``CASE WHEN`` chain (lecture_06.md:12).
- ``-If`` combinators     → ``agg(x) FILTER (WHERE cond)``
  (lecture_06.md:67, lecture_07.md:509).

Everything else (CTEs, window functions, ROLLUP, INTERSECT/EXCEPT,
lambdas) is already valid Spark SQL.
"""

from __future__ import annotations

import re

from otus_clickhouse_spark.functions.clickhouse import AGGREGATE_ALIASES, SCALAR_ALIASES
from otus_clickhouse_spark.functions.lexer import LIT, Masked, call_args, close_paren, split_top

_FINAL_RE = re.compile(r"\bFROM\s+([A-Za-z_][A-Za-z0-9_.]*)\s+FINAL\b", re.IGNORECASE)
_COUNT0_RE = re.compile(r"\bcount\s*\(\s*\)", re.IGNORECASE)
# {id:UInt8} query parameters (lectures/lecture_03.md:303-307) → Spark :id
_PARAM_RE = re.compile(r"\{\s*([A-Za-z_][\w]*)\s*:\s*[A-Za-z_][\w()]*\s*\}")

_SIMPLE_ALIASES = {
    **{k: v for k, v in AGGREGATE_ALIASES.items() if not k.endswith("If")},
    **SCALAR_ALIASES,
}
_ALIAS_RE = re.compile(
    r"\b(" + "|".join(sorted(_SIMPLE_ALIASES, key=len, reverse=True)) + r")\s*\("
)
_IF_COMBINATOR_RE = re.compile(
    r"\b(sum|count|avg|min|max|argMax|argMin|uniq|anyLast|any|median)If\s*\("
)


_CTE_TOKEN_RE = re.compile(r"[(\[\]),]|\bSELECT\b", re.IGNORECASE)


def _rewrite_scalar_cte(text: str) -> str:
    """CH scalar CTEs (hw11.md:38 ``with '{"1": "login"}' as cte
    select …``; lecture_27.md:231-244): ``WITH <expr> AS name`` binds a
    SCALAR that substitutes wherever ``name`` appears — unlike the
    standard ``name AS (subquery)`` form, which Spark parses natively
    and is left untouched. ``WITH (SELECT …) AS name`` becomes a scalar
    subquery the same way."""
    m = re.match(r"^(\s*)WITH\b", text, re.IGNORECASE)
    if not m:
        return text
    depth, start, items, main_start = 0, m.end(), [], None
    for t in _CTE_TOKEN_RE.finditer(text, m.end()):
        c = t.group()
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0 and c == ",":
            items.append(text[start : t.start()])
            start = t.end()
        elif depth == 0 and re.search(r"(?i)\bAS\s+\w+\s*$", text[start : t.start()]):
            items.append(text[start : t.start()])
            main_start = t.start()
            break
    if main_start is None:
        return text  # standard-CTE-only (or unparseable): Spark handles it
    scalars: list[tuple[str, str]] = []
    keep: list[str] = []
    for it in items:
        if re.match(r"^\s*\w+\s+AS\s*\(", it, re.IGNORECASE):
            keep.append(it.strip())
            continue
        em = re.match(r"^\s*(.+?)\s+AS\s+(\w+)\s*$", it, re.IGNORECASE | re.DOTALL)
        if em:
            scalars.append((em.group(2), em.group(1)))
        else:
            keep.append(it.strip())
    if not scalars:
        return text
    rest = text[main_start:]
    for name, expr in scalars:
        rest = re.sub(rf"\b{re.escape(name)}\b", lambda _m, e=expr: f"({e})", rest)
    head = ("WITH " + ", ".join(keep) + " ") if keep else ""
    return m.group(1) + head + rest


def _rewrite_transform4(text: str) -> str:
    """CH 4-arg ``transform(x, from_array, to_array, default)``
    (lecture_06 conditional family) → a map lookup with fallback. The
    2-arg form is Spark's lambda HOF of the same name and passes
    through untouched."""
    pos = 0
    while True:
        m = re.search(r"\btransform\s*\(", text[pos:])
        if not m:
            return text
        start = pos + m.start()
        args, end = call_args(text, text.index("(", start))
        if len(args) != 4:
            pos = start + len("transform")
            continue
        x, src, dst, default = args
        text = (
            text[:start]
            + f"coalesce(element_at(map_from_arrays({src}, {dst}), {x}), {default})"
            + text[end:]
        )


def _rewrite_count_equal(text: str) -> str:
    """``countEqual(arr, x)`` → size(filter(arr, e -> e = x))."""
    while True:
        m = re.search(r"\bcountEqual\s*\(", text)
        if not m:
            return text
        args, end = call_args(text, text.index("(", m.start()))
        arr, x = args
        text = (
            text[: m.start()]
            + f"size(filter({arr}, __ce -> __ce = {x}))"
            + text[end:]
        )


# emptyArrayT() constructors (CH array family) → typed empty literals
_EMPTY_ARRAY_TYPES = {
    "String": "STRING", "Int8": "TINYINT", "Int16": "SMALLINT",
    "Int32": "INT", "Int64": "BIGINT", "UInt8": "SMALLINT",
    "UInt16": "INT", "UInt32": "BIGINT", "UInt64": "BIGINT",
    "Float32": "FLOAT", "Float64": "DOUBLE", "Date": "DATE",
    "DateTime": "TIMESTAMP",
}


def _rewrite_empty_arrays(text: str) -> str:
    return re.sub(
        r"\bemptyArray(\w+)\s*\(\s*\)",
        lambda m: "CAST(array() AS ARRAY<{}>)".format(
            _EMPTY_ARRAY_TYPES.get(m.group(1), "STRING")
        ),
        text,
    )


def _rewrite_empty(text: str) -> str:
    """``empty(x)``/``notEmpty(x)`` → ``(length(x) = 0)``/``(length(x) >
    0)``: strings, arrays and maps alike, because Engine.sql turns a
    ``length`` Catalyst rejects into ``size``."""
    while True:
        m = re.search(r"\b(empty|notEmpty)\s*\(", text, re.IGNORECASE)
        if not m:
            return text
        args, end = call_args(text, m.end() - 1)
        op = "=" if m.group(1).lower() == "empty" else ">"
        text = f"{text[: m.start()]}(length({', '.join(args)}) {op} 0){text[end:]}"


def _rewrite_multiif(text: str) -> str:
    while True:
        m = re.search(r"\bmultiIf\s*\(", text)
        if not m:
            return text
        args, end = call_args(text, text.index("(", m.start()))
        pairs = args[:-1]
        default = args[-1]
        whens = " ".join(
            f"WHEN {pairs[i]} THEN {pairs[i + 1]}" for i in range(0, len(pairs) - 1, 2)
        )
        text = text[: m.start()] + f"(CASE {whens} ELSE {default} END)" + text[end:]


# -State / -Merge combinators + finalizeAggregation (A7; lectures/
# lecture_04.md:113-120, lecture_07.md:495-546, lecture_13.md:57-94):
# partial-aggregate state persisted as data. State encodings match the
# DDL layer (functions/ddl.py AggregateFunction mapping):
#   uniq       → DataSketches HLL binary (hll_sketch_agg / hll_union_agg)
#   avg        → struct<sum: double, count: bigint>
#   groupArray → array<T> (merge = flatten)
#   sum/min/max/any/anyLast/count → the partial value itself
#     (merge-idempotent — SimpleAggregateFunction semantics)
# ``…IfState(x…, cond)`` builds the state under FILTER; ``…IfMerge``
# equals ``…Merge`` (the filter was applied when the state was built).
_STATE_COMB_RE = re.compile(
    r"\b(anyLast|any|uniqExact|uniq|sum|min|max|count|avg|groupArray)(If)?(State|Merge)\s*\("
)
_STATE_SIMPLE = {"sum": "sum", "min": "min", "max": "max", "any": "first", "anyLast": "last"}


def _rewrite_state_combinators(text: str) -> str:
    while True:
        m = _STATE_COMB_RE.search(text)
        if not m:
            return text
        base, is_if, kind = m.group(1), bool(m.group(2)), m.group(3)
        args, end = call_args(text, text.index("(", m.start()))
        if kind == "State":
            cond = args[-1] if is_if else None
            vals = args[:-1] if is_if else args
            filt = f" FILTER (WHERE {cond})" if cond else ""
            if base == "uniqExact":
                # exact mergeable state = the sorted distinct value set
                # (CH uniqExactState's contract); r11 sf1 gate: the HLL
                # estimate drifts past sparse mode (~15k distincts ->
                # 15043), so exactness needs the exact state
                repl = f"array_sort(collect_set({vals[0]}){filt})"
            elif base == "uniq":
                repl = f"hll_sketch_agg({vals[0]}, 14){filt}"  # lg_k=14: exact into the thousands
            elif base == "avg":
                repl = (
                    f"named_struct('sum', sum(CAST({vals[0]} AS DOUBLE)){filt}, "
                    f"'count', count({vals[0]}){filt})"
                )
            elif base == "groupArray":
                repl = f"collect_list({vals[0]}){filt}"
            elif base == "count":
                repl = f"count({vals[0] if vals and vals[0] else '*'}){filt}"
            else:
                repl = f"{_STATE_SIMPLE[base]}({vals[0]}){filt}"
        else:  # Merge: one state column argument
            s = args[0]
            if base == "uniqExact":
                repl = f"size(array_distinct(flatten(collect_list({s}))))"
            elif base == "uniq":
                repl = f"hll_sketch_estimate(hll_union_agg({s}))"
            elif base == "avg":
                repl = f"(sum(({s}).sum) / sum(({s}).count))"
            elif base == "groupArray":
                repl = f"flatten(collect_list({s}))"
            elif base == "count":
                repl = f"sum({s})"
            else:
                repl = f"{_STATE_SIMPLE[base]}({s})"
        text = text[: m.start()] + repl + text[end:]


def _rewrite_finalize_aggregation(
    text: str, agg_funcs: dict[str, str], lits: Masked
) -> str:
    """``finalizeAggregation(state)`` (lecture_07.md:516-546): show one
    state value's current result without merging across rows.

    Dispatch is type-directed, like ClickHouse: ``agg_funcs`` maps state
    column name → declared AggregateFunction name (from the table
    registry's DDL metadata). Inline ``…State(…)`` calls dispatch on
    their own name. Unknown columns fall back to identity — correct for
    every merge-idempotent state (sum/min/max/any/count), which is the
    shape undeclared ad-hoc states take here.
    """
    while True:
        m = re.search(r"\bfinalizeAggregation\s*\(", text)
        if not m:
            return text
        args, end = call_args(text, text.index("(", m.start()))
        arg = args[0].strip()
        im = re.match(r"^(anyLast|any|uniqExact|uniq|sum|min|max|count|avg|groupArray)(?:If)?State\s*\(", arg)
        fn = im.group(1) if im else agg_funcs.get(lits.value(arg.split(".")[-1]), "")
        fn = re.sub(r"If$", "", fn)
        if fn == "uniqExact":
            repl = f"size({arg})"
        elif fn == "uniq":
            repl = f"hll_sketch_estimate({arg})"
        elif fn == "avg":
            repl = f"(({arg}).sum / ({arg}).count)"
        else:
            repl = f"({arg})"
        text = text[: m.start()] + repl + text[end:]


# -OrNull returns NULL on an empty set — Spark aggregates already do;
# -Distinct aggregates distinct values (sumDistinct(x) → sum(DISTINCT x))
_ORNULL_RE = re.compile(r"\b(sum|min|max|avg|any|count|median|quantile)OrNull\s*\(")
_DISTINCT_COMB_RE = re.compile(r"\b(sum|avg|count)Distinct\s*\(")


def _rewrite_null_distinct_combinators(text: str) -> str:
    text = _ORNULL_RE.sub(lambda m: f"{m.group(1)}(", text)
    text = _DISTINCT_COMB_RE.sub(lambda m: f"{m.group(1)}(DISTINCT ", text)
    return text


def _rewrite_if_combinators(text: str) -> str:
    """aggIf(x, cond) → agg(x) FILTER (WHERE cond); countIf(cond) → count_if."""
    while True:
        m = _IF_COMBINATOR_RE.search(text)
        if not m:
            return text
        base = m.group(1)
        args, end = call_args(text, text.index("(", m.start()))
        spark_agg = {
            "argMax": "max_by",
            "argMin": "min_by",
            "uniq": "approx_count_distinct",
            "any": "first",
            "anyLast": "last",
        }.get(base, base)
        windowed = re.match(r"\s*OVER\b", text[end:], re.IGNORECASE) is not None
        if base == "count" and len(args) == 1:
            repl = f"count_if({args[0]})"
        elif windowed and len(args) == 2:
            # Spark rejects FILTER on WINDOW aggregates (MISSING_GROUP_BY
            # — r12 window fuzz finding); the CASE-WHEN spelling is
            # null-skipping-equivalent for single-argument aggregates
            cond, inner = args[-1], args[0]
            repl = f"{spark_agg}(CASE WHEN {cond} THEN {inner} END)"
            if base == "sum":
                # coalesce applies OUTSIDE the window: text[end:] starts
                # with OVER, so wrap after the full window expr — but a
                # textual rewrite can't safely find the OVER's end here;
                # CH window sumIf over an empty frame is NULL-vs-0 only
                # when no frame row matches, which the CASE form already
                # mirrors frame-locally. Leave unsummed NULLs to the
                # caller (the non-window path keeps the 0 default).
                pass
        else:
            cond = args[-1]
            inner = ", ".join(args[:-1])
            repl = f"{spark_agg}({inner}) FILTER (WHERE {cond})"
            if base == "sum":
                # CH sumIf over an empty match set is 0 (the sum type's
                # default), not NULL — r11 dialect fuzz finding; the
                # -OrNull combinator is the NULL-on-empty spelling
                repl = f"coalesce({repl}, 0)"
        text = text[: m.start()] + repl + text[end:]


def _rewrite_kurtpop(text: str) -> str:
    """kurtPop(x) → (kurtosis(x) + 3.0).

    ClickHouse kurtPop returns raw kurtosis m4/m2² (3 for a normal
    distribution); Spark's kurtosis is the EXCESS population kurtosis
    (0 for normal), so the offset must be structural, not an alias.
    """
    while True:
        m = re.search(r"\bkurtPop\s*\(", text)
        if not m:
            return text
        args, end = call_args(text, text.index("(", m.start()))
        text = text[: m.start()] + f"(kurtosis({', '.join(args)}) + 3.0)" + text[end:]


def _rewrite_bounding_ratio(text: str) -> str:
    """boundingRatio(x, y) — slope of the bounding box, an AGGREGATE so
    it can't be a scalar SQL UDF: expand textually to
    (max(y)-min(y))/(max(x)-min(x))."""
    while True:
        m = re.search(r"\bboundingRatio\s*\(", text)
        if not m:
            return text
        args, end = call_args(text, text.index("(", m.start()))
        x, y = args
        repl = f"((max({y}) - min({y})) / (max({x}) - min({x})))"
        text = text[: m.start()] + repl + text[end:]


def _rewrite_timeslots_default(text: str) -> str:
    """timeSlots(start, dur) → timeSlots(start, dur, 1800): SQL UDFs
    can't overload, so the 2-arg CH form gets the default slot size
    appended textually."""
    pos = 0
    while True:
        m = re.search(r"\btimeSlots\s*\(", text[pos:])
        if not m:
            return text
        start = pos + m.start()
        args, end = call_args(text, text.index("(", start))
        if len(args) == 2:
            text = text[:start] + f"timeSlots({args[0]}, {args[1]}, 1800)" + text[end:]
        pos = start + 1
    return text


def _rewrite_crypto_hashes(text: str) -> str:
    """CH's ``MD5``/``SHA1`` return raw bytes (FixedString) — the
    idiomatic ``hex(MD5(x))`` must yield the digest hex. Spark's
    same-named builtins return hex STRINGS and cannot be shadowed by
    SQL UDFs, so the CH-cased spellings rewrite to
    ``unhex(builtin(...))`` (lowercase ``md5(x)`` stays Spark-native)."""
    for ch_name, spark_fn in (("MD5", "md5"), ("SHA1", "sha1")):
        while True:
            m = re.search(rf"\b{ch_name}\s*\(", text)
            if not m:
                break
            args, end = call_args(text, text.index("(", m.start()))
            text = text[: m.start()] + f"unhex({spark_fn}({', '.join(args)}))" + text[end:]
    # CH DateTime ± integer means seconds (hw14.md:40 `now() - 86400`);
    # Spark requires an interval
    text = re.sub(
        r"\bnow(64)?\(\)\s*([-+])\s*(\d+)(?![\w.])",
        lambda m: f"(now() {m.group(2)} make_dt_interval(0, 0, 0, {m.group(3)}))",
        text,
    )
    # same builtin-collision class: CH's monthName returns the FULL
    # month name; Spark's case-insensitive monthname() abbreviates
    while True:
        m = re.search(r"\bmonthName\s*\(", text)
        if not m:
            break
        args, end = call_args(text, text.index("(", m.start()))
        text = text[: m.start()] + f"date_format({args[0]}, 'MMMM')" + text[end:]
    return text


def _rewrite_splitByChar(text: str) -> str:
    """Inline splitByChar(sep, s) → split(s, quoted-sep) textually.

    The SQL-UDF form exists too, but Spark rejects SQL UDFs inside
    Generate, so compositions like ``arrayJoin(splitByChar(...))``
    need the inlined builtin.
    """
    while True:
        m = re.search(r"\bsplitByChar\s*\(", text)
        if not m:
            return text
        args, end = call_args(text, text.index("(", m.start()))
        sep, s = args
        repl = f"split({s}, concat('\\\\Q', {sep}, '\\\\E'))"
        text = text[: m.start()] + repl + text[end:]


def _rewrite_extractAll(text: str) -> str:
    """Inline extractAll(s, pat) → regexp_extract_all(s, pat, 0) so it
    can appear inside Generate (ARRAY JOIN / arrayJoin exprs), where
    Spark rejects SQL UDF calls."""
    while True:
        m = re.search(r"\bextractAll\s*\(", text)
        if not m:
            return text
        args, end = call_args(text, text.index("(", m.start()))
        s, pat = args
        text = text[: m.start()] + f"regexp_extract_all({s}, {pat}, 0)" + text[end:]


_ARRAY_JOIN_RE = re.compile(r"\b(LEFT\s+)?ARRAY\s+JOIN\b", re.IGNORECASE)
_AJ_STOP_RE = re.compile(
    r"\b(WHERE|GROUP|ORDER|HAVING|LIMIT|SETTINGS|UNION|WINDOW|INTERSECT|EXCEPT"
    r"|(?:LEFT\s+)?ARRAY\s+JOIN)\b",
    re.IGNORECASE,
)


def _clause_end(text: str, start: int, stop_re: re.Pattern) -> int:
    """End of the clause that starts at ``start``: the first top-level
    ``stop_re`` keyword, an unbalanced ``)``/``]``, or the end of text."""
    depth = 0
    for t in re.finditer(r"[(\[]|[)\]]|" + stop_re.pattern, text[start:], stop_re.flags):
        c = t.group()
        if c in "([":
            depth += 1
        elif c in ")]" and depth:
            depth -= 1
        elif not depth:
            return start + t.start()
    return len(text)


def _rewrite_array_join(text: str) -> str:
    """ARRAY JOIN clause (lectures/lecture_06.md:29-41) → LATERAL VIEW.

    Single array: ``ARRAY JOIN e AS x`` → ``LATERAL VIEW explode(e) … AS x``.
    Multiple arrays unnest ALIGNED (not cartesian): the first is
    posexploded and the rest are indexed at the same position —
    exactly the reference's built-row-wise semantics. ``LEFT ARRAY
    JOIN`` keeps empty-array rows (explode_outer). Consecutive ARRAY
    JOIN clauses multiply, each its own LATERAL VIEW.
    """
    views = 0
    while True:
        m = _ARRAY_JOIN_RE.search(text)
        if not m:
            return text
        outer = "OUTER " if m.group(1) else ""
        start = m.end()
        end = _clause_end(text, start, _AJ_STOP_RE)
        items = []
        for item in split_top(text[start:end].strip()):
            am = re.match(r"(?is)^(.*?)\s+AS\s+(\w+)$", item)
            if am:
                items.append((am.group(1).strip(), am.group(2)))
            else:
                if not re.fullmatch(r"[A-Za-z_][\w.]*", item):
                    raise ValueError(f"ARRAY JOIN item needs AS alias: {item!r}")
                items.append((item, item.split(".")[-1]))
        if len(items) == 1:
            expr, name = items[0]
            repl = f" LATERAL VIEW {outer}explode({expr}) __aj{views} AS {name} "
        else:
            e0, n0 = items[0]
            pos = f"__ajpos{views or ''}"
            parts = [f" LATERAL VIEW {outer}posexplode({e0}) __aj{views} AS {pos}, {n0}"]
            for k, (e, n) in enumerate(items[1:], 1):
                parts.append(f" LATERAL VIEW explode(array(({e})[{pos}])) __aj{views + k} AS {n}")
            repl = "".join(parts) + " "
        views += len(items)
        text = text[: m.start()] + repl + text[end:]


_SELECT_KW_RE = re.compile(r"\bSELECT\b", re.IGNORECASE)
_FROM_KW_RE = re.compile(r"\bFROM\b", re.IGNORECASE)
_GROUP_BY_RE = re.compile(r"\bGROUP\s+BY\b", re.IGNORECASE)
_SELECT_AJ_RE = re.compile(r"(?s)arrayJoin\s*(\(.*\))\s+AS\s+(\w+)")


def _rewrite_select_array_join(text: str) -> str:
    """``SELECT arrayJoin(e) AS x, … FROM r … GROUP BY x`` → ``SELECT x,
    … FROM r ARRAY JOIN e AS x … GROUP BY x``.

    Spark cannot group by the alias of a generator in the same select
    list, so in a grouped query each aliased select-list ``arrayJoin``
    becomes its own ARRAY JOIN clause (one per call: separate calls
    multiply, as in ClickHouse), which :func:`_rewrite_array_join`
    plans as a LATERAL VIEW. Ungrouped queries keep ``explode``.
    """
    for sel in reversed(list(_SELECT_KW_RE.finditer(text))):
        start = sel.end()
        end = _clause_end(text, start, _FROM_KW_RE)
        if not _FROM_KW_RE.match(text, end) or "arrayJoin" not in text[start:end]:
            continue
        rel = _clause_end(text, end, _AJ_STOP_RE)
        if not _GROUP_BY_RE.match(text, _clause_end(text, rel, _GROUP_BY_RE)):
            continue
        items, joins = [], ""
        for item in split_top(text[start:end]):
            m = _SELECT_AJ_RE.fullmatch(item)
            if m and close_paren(m.group(1), 0) == len(m.group(1)) - 1:
                items.append(m.group(2))
                joins += f" ARRAY JOIN {m.group(1)[1:-1]} AS {m.group(2)}"
            else:
                items.append(item)
        if joins:
            text = (
                f"{text[:start]} {', '.join(items)} {text[end:rel].rstrip()}{joins} {text[rel:]}"
            )
    return text


_SAMPLE_RE = re.compile(r"(\bFROM\s+[A-Za-z_][\w.]*)\s+SAMPLE\s+(\d*\.?\d+)", re.IGNORECASE)
_NUMBERS_RE = re.compile(r"\bnumbers\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)", re.IGNORECASE)


def _array_literals(text: str) -> str:
    """ClickHouse ``[1,2,3]`` array literals → ``array(1,2,3)``.

    A ``[`` directly after an identifier, ``)`` or ``]`` is subscript
    indexing (``arr[1]``) and is left alone; anywhere else it opens a
    literal (lecture_06.md:19-41 uses ``['37','38']``), including at the
    very start of a fragment (``[0.99, 0.01]`` as an ALTER UPDATE value).
    """
    out: list[str] = []
    stack: list[bool] = []  # True = literal bracket we rewrote
    pos = 0
    for b in re.finditer(r"[\[\]]", text):
        i = b.start()
        out.append(text[pos:i])
        pos = i + 1
        if b.group() == "[":
            prev = text[i - 1] if i else " "
            stack.append(not (prev.isalnum() or prev in "_)]"))
            out.append("array(" if stack[-1] else "[")
        else:
            out.append(")" if stack and stack.pop() else "]")
    out.append(text[pos:])
    return "".join(out)


def _rewrite_array_literals(sql: str) -> str:
    """The array-literal rewrite for a raw fragment outside
    :func:`translate` (an INSERT … VALUES clause)."""
    lits = Masked(sql)
    return lits.unmask(_array_literals(lits.text))


# ClickHouse higher-order array functions take the lambda FIRST
# (arrayMap(x -> f(x), arr) — lecture_06.md:16, lecture_21.md:348);
# Spark's take the array first. Swap + rename, handling 2-array zips.
_ARRAY_LAMBDA_TARGETS = {
    "arrayMap": "transform",
    "arrayFilter": "filter",
    "arrayExists": "exists",
    "arrayAll": "forall",
    "arrayCount": None,  # size(filter(arr, f))
    "arrayFirst": None,  # element_at(filter(arr, f), 1)
    "arraySum": None,  # arraySum(transform(arr, f)) — reuses the SQL UDF
    "arraySort": None,  # key-lambda form → comparator array_sort
    "arrayReverseSort": None,
    "arrayFirstIndex": None,  # position of first lambda-true element
    "arrayLastIndex": None,
    "arrayLast": None,  # last lambda-true element
    "arrayFold": None,  # arrayFold(lam, arr, init) → aggregate(arr, init, lam)
    "arrayFill": None,  # forward-fill where the predicate is false
    "arrayReverseFill": None,
}


def _apply_lambda(lam: str, var: str) -> str:
    """Inline a single-param lambda body with ``var`` substituted."""
    lm = re.match(r"^\s*(\w+)\s*->\s*(.+)$", lam, re.DOTALL)
    if not lm:
        raise ValueError(f"expected single-param lambda, got {lam!r}")
    return "(" + re.sub(rf"\b{lm.group(1)}\b", var, lm.group(2).strip()) + ")"


def _sort_comparator(lam: str, reverse: bool) -> str:
    """CH arraySort(x -> key, arr) → Spark array_sort comparator: the
    single-param key lambda becomes a two-param CASE comparison."""
    lm = re.match(r"^\s*(\w+)\s*->\s*(.+)$", lam, re.DOTALL)
    if not lm:
        raise ValueError(f"unsupported arraySort lambda: {lam!r}")
    p, body = lm.group(1), lm.group(2).strip()
    kl = re.sub(rf"\b{p}\b", "__l", body)
    kr = re.sub(rf"\b{p}\b", "__r", body)
    lt, gt = ("1", "-1") if reverse else ("-1", "1")
    return (
        f"(__l, __r) -> CASE WHEN ({kl}) < ({kr}) THEN {lt} "
        f"WHEN ({kl}) > ({kr}) THEN {gt} ELSE 0 END"
    )
_ARRAY_LAMBDA_RE = re.compile(
    r"\b(" + "|".join(_ARRAY_LAMBDA_TARGETS) + r")\s*\("
)


def _rewrite_array_lambda(text: str) -> str:
    out = []
    pos = 0
    while True:
        m = _ARRAY_LAMBDA_RE.search(text, pos)
        if not m:
            out.append(text[pos:])
            break
        name = m.group(1)
        args, end = call_args(text, m.end() - 1)
        # a top-level lambda starts with `x ->` or `(x, y) ->`
        if not re.match(r"^\s*(\w+|\(\s*\w+(\s*,\s*\w+)*\s*\))\s*->", args[0]):
            if name == "arraySum" and len(args) == 1:
                # inline even the plain form: the call may sit inside an
                # outer lambda where a SQL UDF cannot resolve the lambda var
                inner = _rewrite_array_lambda(args[0])
                out.append(
                    text[pos : m.start()]
                    + f"aggregate({inner}, CAST(0.0 AS DOUBLE), (__acc, __x) -> __acc + __x)"
                )
                pos = end
                continue
            if name in ("arraySort", "arrayReverseSort") and len(args) == 1:
                inner = _rewrite_array_lambda(args[0])
                repl = f"array_sort({inner})"
                if name == "arrayReverseSort":
                    repl = f"reverse({repl})"
                out.append(text[pos : m.start()] + repl)
                pos = end
                continue
            # plain-array form (e.g. arrayFilter(arr)): leave for the UDF
            out.append(text[pos : m.end()])
            pos = m.end()
            continue
        lam = _rewrite_array_lambda(args[0])
        arrs = [_rewrite_array_lambda(a) for a in args[1:]]
        if name == "arrayMap" and len(arrs) == 2:
            repl = f"zip_with({arrs[0]}, {arrs[1]}, {lam})"
        elif name == "arrayCount":
            repl = f"size(filter({arrs[0]}, {lam}))"
        elif name == "arrayFirst":
            repl = f"element_at(filter({arrs[0]}, {lam}), 1)"
        elif name == "arrayLast":
            repl = (
                f"CASE WHEN size(filter({arrs[0]}, {lam})) > 0 "
                f"THEN element_at(filter({arrs[0]}, {lam}), -1) END"
            )
        elif name == "arrayFirstIndex":
            repl = f"coalesce(array_position(transform({arrs[0]}, {lam}), true), 0)"
        elif name == "arrayLastIndex":
            # last index = size - position-in-reversed + 1; Spark's
            # array_position yields 0 (not NULL) when absent
            repl = (
                f"CASE WHEN array_position(transform(reverse({arrs[0]}), {lam}), true)"
                f" = 0 THEN 0 ELSE size({arrs[0]}) + 1"
                f" - array_position(transform(reverse({arrs[0]}), {lam}), true) END"
            )
        elif name == "arrayFold":
            # CH arrayFold((acc, x) -> …, arr, init): Spark's aggregate
            # takes (arr, init, (acc, x) -> …)
            repl = f"aggregate({arrs[0]}, {arrs[1]}, {lam})"
        elif name in ("arrayFill", "arrayReverseFill"):
            # forward-fill (arrayFill) / backward-fill (reverse twice)
            # where the predicate is FALSE; slice(arr, 1, 0) seeds an
            # empty array of the element type without naming it
            src = arrs[0] if name == "arrayFill" else f"reverse({arrs[0]})"
            cond = _apply_lambda(lam, "__x")
            fill = (
                f"aggregate({src}, slice({arrs[0]}, 1, 0), (__acc, __x) -> "
                f"CASE WHEN {cond} OR size(__acc) = 0 "
                f"THEN concat(__acc, array(__x)) "
                f"ELSE concat(__acc, array(element_at(__acc, -1))) END)"
            )
            repl = fill if name == "arrayFill" else f"reverse({fill})"
        elif name == "arraySum":
            # inlined (not the arraySum SQL UDF): UDF calls cannot
            # reference enclosing lambda variables in Spark
            repl = (
                f"aggregate(transform({arrs[0]}, {lam}), CAST(0.0 AS DOUBLE), "
                f"(__acc, __x) -> __acc + __x)"
            )
        elif name in ("arraySort", "arrayReverseSort"):
            repl = f"array_sort({arrs[0]}, {_sort_comparator(lam, name == 'arrayReverseSort')})"
        else:
            repl = f"{_ARRAY_LAMBDA_TARGETS[name]}({arrs[0]}, {lam})"
        out.append(text[pos : m.start()] + repl)
        pos = end
    return "".join(out)


# Non-lambda array-manipulation stragglers, rewritten textually so they
# stay generic over element types (a typed SQL UDF would coerce).
_ARRAY_PLAIN_RE = re.compile(
    r"\b(arrayUnion|arrayPushFront|arrayPopFront|arrayRotateLeft"
    r"|arrayRotateRight|arrayShiftLeft|arrayResize|hasAll"
    r"|arrayJaccardIndex|arrayPartialSort"
    r"|arrayEnumerateDense|arrayEnumerateUniq"
    r"|mapFromArrays|mapApply|mapFilter|mapUpdate)\s*\("
)


def _rewrite_array_plain(text: str) -> str:
    while True:
        m = _ARRAY_PLAIN_RE.search(text)
        if not m:
            return text
        name = m.group(1)
        args, end = call_args(text, m.end() - 1)
        a = args[0]
        if name == "arrayUnion":
            repl = f"array_distinct(concat({', '.join(args)}))"
        elif name == "arrayPushFront":
            repl = f"concat(array({args[1]}), {a})"
        elif name == "arrayPopFront":
            repl = f"slice({a}, 2, greatest(size({a}) - 1, 0))"
        elif name in ("arrayRotateLeft", "arrayRotateRight"):
            n = args[1]
            k = (
                f"pmod({n}, size({a}))"
                if name == "arrayRotateLeft"
                else f"pmod(size({a}) - pmod({n}, size({a})), size({a}))"
            )
            repl = (
                f"concat(slice({a}, {k} + 1, size({a}) - {k}), "
                f"slice({a}, 1, {k}))"
            )
        elif name == "arrayShiftLeft":
            n, fill = args[1], args[2] if len(args) > 2 else "NULL"
            repl = (
                f"concat(slice({a}, ({n}) + 1, greatest(size({a}) - ({n}), 0)), "
                f"array_repeat({fill}, least({n}, size({a}))))"
            )
        elif name == "arrayResize":
            n = args[1]
            fill = args[2] if len(args) > 2 else "NULL"  # CH pads type default; NULL here for 2-arg
            repl = (
                f"CASE WHEN size({a}) >= ({n}) THEN slice({a}, 1, {n}) "
                f"ELSE concat({a}, array_repeat({fill}, ({n}) - size({a}))) END"
            )
        elif name == "hasAll":
            repl = f"forall({args[1]}, __h -> array_contains({a}, __h))"
        elif name == "arrayEnumerateDense":
            # first-occurrence rank: array_distinct preserves first-seen
            # order, so position-in-distinct IS the dense id
            repl = (
                f"transform({a}, __x -> "
                f"CAST(array_position(array_distinct({a}), __x) AS INT))"
            )
        elif name == "arrayEnumerateUniq":
            # per-value occurrence counter (1st, 2nd, … sighting)
            repl = (
                f"transform({a}, (__x, __i) -> "
                f"size(filter(slice({a}, 1, __i + 1), __y -> __y = __x)))"
            )
        elif name == "arrayJaccardIndex":
            b = args[1]
            repl = (
                f"(size(array_intersect({a}, {b})) "
                f"/ CAST(size(array_distinct(concat({a}, {b}))) AS DOUBLE))"
            )
        elif name == "mapFromArrays":
            repl = f"map_from_arrays({args[0]}, {args[1]})"
        elif name == "mapFilter":
            # CH lambda-first → Spark map_filter(m, (k, v) -> …)
            repl = f"map_filter({args[1]}, {args[0]})"
        elif name == "mapUpdate":
            ma, mb = args[0], args[1]
            # b's entries win; a's survivors are the keys b lacks
            repl = (
                f"map_from_entries(concat("
                f"filter(map_entries({ma}), __e -> NOT array_contains(map_keys({mb}), __e.key)), "
                f"map_entries({mb})))"
            )
        elif name == "mapApply":
            # CH mapApply((k, v) -> (k', v'), m): the lambda returns a
            # TUPLE — rebuild via entry transform with param substitution
            pm = re.match(
                r"^\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*->\s*\((.*)\)\s*$",
                args[0],
                re.DOTALL,
            )
            if not pm:
                raise ValueError(f"unsupported mapApply lambda: {args[0]!r}")
            kp, vp, body = pm.groups()
            ke, ve = split_top(body)

            def _sub(expr: str) -> str:
                expr = re.sub(rf"\b{kp}\b", "__e['key']", expr)
                return re.sub(rf"\b{vp}\b", "__e['value']", expr)

            repl = (
                f"map_from_entries(transform(map_entries({args[1]}), "
                f"__e -> named_struct('key', {_sub(ke)}, 'value', {_sub(ve)})))"
            )
        else:  # arrayPartialSort(n, arr): full sort is a valid refinement
            repl = f"array_sort({args[1]})"
        text = text[: m.start()] + repl + text[end:]


# dateDiff('unit', a, b): counts crossed unit boundaries (CH semantics,
# unlike Spark timestampdiff's full-elapsed-units). The unit is nearly
# always a string literal, so we substitute the per-unit expression at
# translate time. Name collides with Spark's builtin datediff (function
# names are case-insensitive), hence a rewrite rather than a SQL UDF.
_DATEDIFF_RE = re.compile(r"\bdateDiff\s*\(")
_DATEDIFF_BODIES = {
    "second": "(unix_timestamp({b}) - unix_timestamp({a}))",
    "minute": "CAST(floor(unix_timestamp({b})/60) - floor(unix_timestamp({a})/60) AS BIGINT)",
    "hour": "CAST(floor(unix_timestamp({b})/3600) - floor(unix_timestamp({a})/3600) AS BIGINT)",
    "day": "CAST(datediff({b}, {a}) AS BIGINT)",
    "week": (
        "CAST(floor(datediff({b}, DATE '1970-01-05')/7) - "
        "floor(datediff({a}, DATE '1970-01-05')/7) AS BIGINT)"
    ),
    "month": "CAST((year({b}) - year({a})) * 12 + (month({b}) - month({a})) AS BIGINT)",
    "quarter": "CAST((year({b}) - year({a})) * 4 + (quarter({b}) - quarter({a})) AS BIGINT)",
    "year": "CAST(year({b}) - year({a}) AS BIGINT)",
}


def _rewrite_datediff(text: str, lits: Masked) -> str:
    while True:
        m = _DATEDIFF_RE.search(text)
        if not m:
            return text
        args, end = call_args(text, m.end() - 1)
        unit = lits.value(args[0]).lower()
        body = _DATEDIFF_BODIES.get(unit)
        if body is None or len(args) != 3:
            # unknown unit / non-literal — fall back to Spark's datediff
            repl = f"datediff({', '.join(args[1:])})"
        else:
            repl = body.format(a=args[1], b=args[2])
        text = text[: m.start()] + repl + text[end:]


# age('unit', a, b): FULL elapsed units (CH semantics — unlike dateDiff,
# which counts crossed boundaries: dateDiff('year', Dec 31, Jan 1) = 1
# but age(...) = 0). Same literal-unit inlining as dateDiff.
_AGE_RE = re.compile(r"\bage\s*\(")
_AGE_BODIES = {
    # sub-second units (CH ≥ 22.12 accepts them in age())
    "nanosecond": "((unix_micros(CAST({b} AS TIMESTAMP)) - unix_micros(CAST({a} AS TIMESTAMP))) * 1000)",
    "microsecond": "(unix_micros(CAST({b} AS TIMESTAMP)) - unix_micros(CAST({a} AS TIMESTAMP)))",
    "millisecond": "CAST(floor((unix_micros(CAST({b} AS TIMESTAMP)) - unix_micros(CAST({a} AS TIMESTAMP))) / 1000) AS BIGINT)",
    "second": "(unix_timestamp({b}) - unix_timestamp({a}))",
    "minute": "CAST(floor((unix_timestamp({b}) - unix_timestamp({a})) / 60) AS BIGINT)",
    "hour": "CAST(floor((unix_timestamp({b}) - unix_timestamp({a})) / 3600) AS BIGINT)",
    "day": "CAST(floor((unix_timestamp({b}) - unix_timestamp({a})) / 86400) AS BIGINT)",
    "week": "CAST(floor((unix_timestamp({b}) - unix_timestamp({a})) / 604800) AS BIGINT)",
    "month": "CAST(floor(months_between({b}, {a})) AS BIGINT)",
    "quarter": "CAST(floor(months_between({b}, {a}) / 3) AS BIGINT)",
    "year": "CAST(floor(months_between({b}, {a}) / 12) AS BIGINT)",
}


def _rewrite_age(text: str, lits: Masked) -> str:
    while True:
        m = _AGE_RE.search(text)
        if not m:
            return text
        args, end = call_args(text, m.end() - 1)
        unit = lits.value(args[0]).lower()
        # CH age(unit, start, end[, timezone]) — the optional 4th
        # timezone arg shifts wall-clock boundaries; epoch differences
        # are timezone-invariant, so it is accepted and ignored here
        if len(args) not in (3, 4):
            raise ValueError(f"age() expects (unit, from, to[, tz]), got {len(args)} args")
        body = _AGE_BODIES.get(unit)
        if body is None:
            raise ValueError(f"age(): unsupported unit {unit!r}")
        repl = body.format(a=args[1], b=args[2])
        text = text[: m.start()] + repl + text[end:]


# toStartOfInterval(t, INTERVAL n UNIT) (lecture_20.md:29): INTERVAL
# literals cannot pass through a SQL UDF, so the bucket arithmetic is
# inlined at translate time (stays in whole-stage codegen)
_TSI_RE = re.compile(r"\btoStartOfInterval\s*\(")
_TSI_UNIT_SECS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800}


def _rewrite_dynamic_interval(text: str) -> str:
    """CH's dynamic interval arithmetic — ``x + INTERVAL (expr) DAYS``
    (hw08.md:34) — becomes interval-scalar multiplication, which Spark
    evaluates natively: ``x + (INTERVAL 1 DAY * (expr))``. Literal
    ``INTERVAL n UNIT`` forms pass through untouched."""
    pat = re.compile(r"\bINTERVAL\s*\(", re.IGNORECASE)
    out, i = [], 0
    while True:
        m = pat.search(text, i)
        if not m:
            out.append(text[i:])
            break
        start = m.end() - 1  # at '('
        j = close_paren(text, start)
        um = re.match(
            r"\s*(second|minute|hour|day|week|month|year)s?\b",
            text[j + 1 :],
            re.IGNORECASE,
        )
        if j < 0 or not um:
            out.append(text[i : m.end()])
            i = m.end()
            continue
        expr = text[start + 1 : j]
        out.append(text[i : m.start()])
        out.append(f"(INTERVAL 1 {um.group(1).upper()} * ({expr}))")
        i = j + 1 + um.end()
    # bare-identifier operand (hw04.md `+ interval number day`): same
    # multiplication form; numeric/quoted literals stay Spark-native
    return re.sub(
        r"\bINTERVAL\s+([A-Za-z_]\w*)\s+(second|minute|hour|day|week|month|year)s?\b",
        lambda mm: f"(INTERVAL 1 {mm.group(2).upper()} * ({mm.group(1)}))",
        "".join(out),
        flags=re.IGNORECASE,
    )


def _rewrite_tostartofinterval(text: str) -> str:
    while True:
        m = _TSI_RE.search(text)
        if not m:
            return text
        args, end = call_args(text, m.end() - 1)
        im = re.match(r"^\s*INTERVAL\s+(\d+)\s+(\w+?)s?\s*$", args[1], re.IGNORECASE)
        if not im:  # toIntervalDay(1)-style constructor form (hw14.md)
            im = re.match(r"^\s*toInterval(\w+?)s?\s*\(\s*(\d+)\s*\)\s*$", args[1], re.IGNORECASE)
            if im:
                im = re.match(
                    r"(\d+) (\w+)", f"{im.group(2)} {im.group(1)}"
                )  # normalize to (n, unit)
        if not im:
            raise ValueError(f"unsupported toStartOfInterval interval: {args[1]!r}")
        n, unit = int(im.group(1)), im.group(2).lower()
        if unit in _TSI_UNIT_SECS:
            secs = n * _TSI_UNIT_SECS[unit]
            repl = (
                f"timestamp_seconds(CAST(floor(unix_timestamp({args[0]}) / {secs}) AS BIGINT) * {secs})"
            )
        elif unit in ("month", "quarter", "year"):
            # calendar units can't bucket by epoch seconds — floor the
            # months-since-epoch count to a multiple of n (CH semantics:
            # buckets align to 1970-01)
            months = n * {"month": 1, "quarter": 3, "year": 12}[unit]
            em = f"((year({args[0]}) - 1970) * 12 + month({args[0]}) - 1)"
            repl = (
                f"add_months(DATE'1970-01-01', "
                f"CAST(floor({em} / {months}) AS INT) * {months})"
            )
        else:
            raise ValueError(f"unsupported toStartOfInterval interval: {args[1]!r}")
        text = text[: m.start()] + repl + text[end:]


# tupleElement(t, n) / tupleElement(t, 'name') — positional tuples in
# Spark are structs with col1..colN fields; named access is dot access
_TUPLE_EL_RE = re.compile(r"\btupleElement\s*\(")


def _rewrite_tuple_element(text: str, lits: Masked) -> str:
    while True:
        m = _TUPLE_EL_RE.search(text)
        if not m:
            return text
        args, end = call_args(text, m.end() - 1)
        idx = args[1].strip()
        field = f"col{idx}" if idx.isdigit() else lits.value(idx)
        text = text[: m.start()] + f"({args[0]}).{field}" + text[end:]


# toStartOfWeek(d[, mode]) — CH's mode defaults to 0; the SQL UDF is
# binary, so the unary call gets the default appended at translate time
_TSW_RE = re.compile(r"\btoStartOfWeek\s*\(")


def _rewrite_tostartofweek(text: str) -> str:
    out = []
    pos = 0
    while True:
        m = _TSW_RE.search(text, pos)
        if not m:
            out.append(text[pos:])
            return "".join(out)
        args, end = call_args(text, m.end() - 1)
        if len(args) == 1:
            out.append(text[pos : m.start()] + f"toStartOfWeek({args[0]}, 0)")
        else:
            out.append(text[pos:end])
        pos = end


# quantile[Exact](p)(x) / quantiles(p1, p2, …)(x) — the parametric
# two-paren aggregate syntax (lecture_06.md:57-59)
_QUANTILE_RE = re.compile(
    r"\b(quantilesExact|quantileExact(?:Low|High)?|quantiles"
    r"|quantileTDigestWeighted|quantileTDigest|quantileBFloat16"
    r"|quantileInterpolatedWeighted|quantileExactWeighted"
    r"|quantileTimingWeighted|quantileTiming|quantileDeterministic"
    r"|quantileGK|quantileddSketch|medianExact|quantile)\s*\("
)


def _rewrite_quantiles(text: str) -> str:
    while True:
        m = _QUANTILE_RE.search(text)
        if not m:
            return text
        name = m.group(1)
        ps, after_ps = call_args(text, m.end() - 1)
        rest = text[after_ps:].lstrip()
        if not rest.startswith("("):
            # single-paren form: quantile(x) = median-ish; dialect alias
            # handles it elsewhere — skip past to avoid an infinite loop
            text = (
                text[: m.start()]
                + ("percentile" if "Exact" in name else "percentile_approx")
                + f"({ps[0]}, 0.5)"
                + text[after_ps:]
            )
            continue
        open2 = text.index("(", after_ps)
        cols, end = call_args(text, open2)
        fn = "percentile" if "Exact" in name else "percentile_approx"
        plist = ps[0] if len(ps) == 1 else f"array({', '.join(ps)})"
        if name in ("quantileGK", "quantileddSketch") and len(ps) >= 2:
            # parametric sketch forms carry (accuracy, level) — the
            # accuracy knob maps onto percentile_approx's parameter
            expr = f"percentile_approx({cols[0]}, {ps[1]}, CAST({ps[0]} AS INT))"
        elif "Weighted" in name and len(cols) >= 2:
            # quantile*Weighted(p)(x, w) → Spark's exact weighted
            # percentile (frequency arg; CH's sketched variants map to
            # the exact computation — a superset in accuracy)
            expr = f"percentile({cols[0]}, {plist}, CAST({cols[1]} AS BIGINT))"
        elif name == "quantileDeterministic":
            # the determinator arg only stabilizes CH's reservoir
            # sampling; the exact computation is already deterministic
            expr = f"percentile({cols[0]}, {plist})"
        else:
            expr = f"{fn}({cols[0]}, {plist})"
        text = text[: m.start()] + expr + text[end:]


# -Array aggregate combinators (public CH surface, same combinator
# class as -If/-State): aggXArray(arr) applies agg over all array
# elements across rows. Rewritten to element-level formulas so the
# aggregation stays a plain map-side-combinable Spark agg.
_ARRAY_COMB_RE = re.compile(r"\b(sum|min|max|avg|count|uniqExact|uniq)Array\s*\(")


# arrayReduce('agg', arr): apply a named aggregate over one array's
# elements (lecture_06 parametric-family sibling; public CH surface)
_ARRAY_REDUCE_FNS = {
    "sum": lambda a: f"aggregate({a}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)",
    "min": lambda a: f"array_min({a})",
    "max": lambda a: f"array_max({a})",
    "avg": lambda a: (
        f"(aggregate({a}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / size({a}))"
    ),
    "count": lambda a: f"size({a})",
    "uniq": lambda a: f"size(array_distinct({a}))",
    "uniqexact": lambda a: f"size(array_distinct({a}))",
    "any": lambda a: f"element_at({a}, 1)",
    "anylast": lambda a: f"element_at({a}, -1)",
}


def _rewrite_array_reduce(text: str, lits: Masked) -> str:
    while True:
        m = re.search(r"\barrayReduce\s*\(", text)
        if not m:
            return text
        args, end = call_args(text, m.end() - 1)
        fn = lits.value(args[0]).lower()
        builder = _ARRAY_REDUCE_FNS.get(fn)
        if builder is None:
            raise ValueError(f"arrayReduce: unsupported aggregate {args[0]}")
        text = text[: m.start()] + builder(args[1]) + text[end:]


def _rewrite_array_combinators(text: str, lits: Masked) -> str:
    text = _rewrite_array_reduce(text, lits)
    while True:
        m = _ARRAY_COMB_RE.search(text)
        if not m:
            return text
        fn = m.group(1)
        args, end = call_args(text, m.end() - 1)
        a = args[0]
        elem_sum = f"aggregate({a}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        if fn == "sum":
            expr = f"sum({elem_sum})"
        elif fn == "min":
            expr = f"min(array_min({a}))"
        elif fn == "max":
            expr = f"max(array_max({a}))"
        elif fn == "avg":
            expr = f"(sum({elem_sum}) / sum(size({a})))"
        elif fn in ("uniq", "uniqExact"):
            # distinct elements across all rows' arrays (hw14.md:54-60
            # uniqArray(tables)) — exact via flatten + distinct
            expr = f"size(array_distinct(flatten(collect_list({a}))))"
        else:  # count
            expr = f"sum(size({a}))"
        text = text[: m.start()] + expr + text[end:]


# windowFunnel(W)(ts, c1…) / sequenceMatch('pat')(ts, c1…) /
# retention(c1…) / topK(k)(x) — the behavioral parametric-aggregate
# family (same two-paren syntax class as quantiles; semantics per the
# public ClickHouse docs; implementations shared with
# operators/behavioral.py).
_BEHAVIORAL_RE = re.compile(
    r"\b(windowFunnel|sequenceMatchEvents|sequenceMatch|sequenceCount"
    r"|retention|topKWeighted|topK|uniqUpTo|sumMap|entropy|avgWeighted"
    r"|sumCount|simpleLinearRegression"
    r"|groupArrayMovingSum|groupArrayMovingAvg|minMap|maxMap)\s*\("
)


def _count_map_expr(collected: str, key: str, inc: str, val_type: str = "bigint") -> str:
    """Fold a collected array into a value→sum map (run-length when the
    array is sorted). Shared by topK/topKWeighted/sumMap/entropy."""
    zero = f"CAST(0 AS {val_type.upper()})"
    return (
        f"aggregate({collected}, cast(map() as map<string,{val_type}>), "
        f"(m, v) -> map_concat(map_filter(m, (k, c) -> NOT (k <=> {key})), "
        f"map({key}, coalesce(element_at(m, {key}), {zero}) + {inc})))"
    )


def _topk_expr(x: str, k: int, weight: str | None = None) -> str:
    """topK(k)(x) / topKWeighted(k)(x, w) as one aggregate expression:
    fold the collected values into a value→count(or Σweight) map, order
    by (count desc, value asc), slice k. Values are coerced to STRING
    (the map needs one concrete key type). Dialect convenience — the
    scalable rows-out form is operators.behavioral.top_k (two-level
    exact agg)."""
    if weight is None:
        collected = f"array_sort(collect_list(CAST({x} AS STRING)))"
        key, inc = "v", "CAST(1 AS BIGINT)"
    else:
        collected = (
            f"array_sort(collect_list(struct(CAST({x} AS STRING) AS k, "
            f"CAST({weight} AS BIGINT) AS w)))"
        )
        key, inc = "v.k", "v.w"
    mexpr = _count_map_expr(collected, key, inc)
    return (
        f"transform(slice(array_sort(transform(map_entries({mexpr}), "
        f"e -> struct(-e.value AS neg, e.key AS val))), 1, {k}), s -> s.val)"
    )


def _seq_pattern(pattern_literal: str, args2: list[str]) -> tuple[str, list[str]]:
    """('(?1).*(?2)', [ts, c1, c2, …]) → (ts, conds in pattern order)."""
    order = [int(i) for i in re.findall(r"\(\?(\d+)\)", pattern_literal)]
    return args2[0], [args2[i] for i in order]


def _rewrite_behavioral(text: str, lits: Masked) -> str:
    from otus_clickhouse_spark.operators.behavioral import (
        sequence_count_expr,
        window_funnel_expr,
    )

    pos = 0
    while True:
        m = _BEHAVIORAL_RE.search(text, pos)
        if not m:
            return text
        name = m.group(1)
        args1, after1 = call_args(text, m.end() - 1)
        if name == "avgWeighted":
            x, w = args1[0], args1[1]
            expr = f"(sum(({x}) * ({w})) / sum({w}))"
            text = text[: m.start()] + expr + text[after1:]
            continue
        if name == "sumCount":
            x = args1[0]
            expr = (
                f"named_struct('sum', sum({x}), "
                f"'count', count({x}))"
            )
            text = text[: m.start()] + expr + text[after1:]
            continue
        if name == "simpleLinearRegression":
            # CH arg order (x, y) → (k, b); Spark regr_* take (y, x)
            x, y = args1[0], args1[1]
            expr = (
                f"named_struct('k', regr_slope({y}, {x}), "
                f"'b', regr_intercept({y}, {x}))"
            )
            text = text[: m.start()] + expr + text[after1:]
            continue
        if name in ("groupArrayMovingSum", "groupArrayMovingAvg"):
            # running prefix sums/averages over the collected group
            # (insertion-order caveat shared with groupArray →
            # collect_list); O(n²) in group size — the whole-group-array
            # regime this family exists for
            x = args1[0]
            coll = f"collect_list(CAST({x} AS DOUBLE))"
            pref = (
                f"aggregate(slice({coll}, 1, __i), CAST(0.0 AS DOUBLE), "
                f"(__s, __v) -> __s + __v)"
            )
            if name == "groupArrayMovingAvg":
                pref = f"({pref}) / __i"
            expr = f"transform(sequence(1, size({coll})), __i -> {pref})"
            text = text[: m.start()] + expr + text[after1:]
            continue
        if name in ("minMap", "maxMap"):
            # merge maps taking the per-key min/max — native entry
            # types, no coercion: group keys from the flattened entry
            # list, reduce each key's values
            mcol = args1[0]
            ents = f"flatten(transform(collect_list({mcol}), __mm -> map_entries(__mm)))"
            red = "array_min" if name == "minMap" else "array_max"
            expr = (
                f"map_from_entries(transform("
                f"array_distinct(transform({ents}, __e -> __e.key)), "
                f"__k -> struct(__k, {red}(transform("
                f"filter({ents}, __e2 -> __e2.key = __k), __e3 -> __e3.value)))))"
            )
            text = text[: m.start()] + expr + text[after1:]
            continue
        if name == "sumMap":
            # sumMap(k, v) → struct of key-sorted parallel arrays
            mexpr = _count_map_expr(
                f"collect_list(struct(CAST({args1[0]} AS STRING) AS k, "
                f"CAST({args1[1]} AS DOUBLE) AS w))",
                "v.k",
                "v.w",
                "double",
            )
            entries = f"array_sort(map_entries({mexpr}))"
            expr = (
                f"named_struct('keys', transform({entries}, e -> e.key), "
                f"'values', transform({entries}, e -> e.value))"
            )
            text = text[: m.start()] + expr + text[after1:]
            continue
        if name == "entropy":
            x = args1[0]
            mexpr = _count_map_expr(
                f"array_sort(collect_list(CAST({x} AS STRING)))", "v", "CAST(1 AS BIGINT)"
            )
            expr = (
                f"(log2(count({x})) - aggregate(map_values({mexpr}), "
                "CAST(0.0 AS DOUBLE), (acc, c) -> acc + c * log2(c)) "
                f"/ count({x}))"
            )
            text = text[: m.start()] + expr + text[after1:]
            continue
        if name == "retention":
            r1 = f"max(IF(({args1[0]}), 1, 0))"
            parts = [r1] + [
                f"least({r1}, max(IF(({c}), 1, 0)))" for c in args1[1:]
            ]
            text = text[: m.start()] + f"array({', '.join(parts)})" + text[after1:]
            continue
        rest = text[after1:]
        stripped = len(rest) - len(rest.lstrip())
        if not rest.lstrip().startswith("("):
            pos = after1  # not the two-paren form; leave as-is
            continue
        open2 = after1 + stripped
        args2, end = call_args(text, open2)
        if name == "windowFunnel":
            if len(args1) > 1:
                # 'strict_order'/'strict_dedup'/'strict_increase' change
                # which chains count; silently ignoring them would return
                # wrong numbers, so refuse loudly.
                raise ValueError(
                    f"windowFunnel mode {lits.unmask(args1[1])} not supported "
                    "(default mode only)"
                )
            expr = window_funnel_expr(args2[0], args2[1:], float(args1[0]))
        elif name in ("sequenceMatch", "sequenceMatchEvents"):
            ts, conds = _seq_pattern(lits.value(args1[0]), args2)
            expr = (
                "CAST(("
                + window_funnel_expr(ts, conds, None)
                + f") = {len(conds)} AS INT)"
            )
        elif name == "sequenceCount":
            ts, conds = _seq_pattern(lits.value(args1[0]), args2)
            expr = sequence_count_expr(ts, conds, None)
        elif name == "uniqUpTo":
            # exact when ≤ N, else N+1 (the CH contract)
            expr = f"least(count(DISTINCT {args2[0]}), {int(args1[0]) + 1})"
        elif name == "topKWeighted":
            expr = _topk_expr(args2[0], int(args1[0]), weight=args2[1])
        else:  # topK
            expr = _topk_expr(args2[0], int(args1[0]))
        text = text[: m.start()] + expr + text[end:]


# ClickHouse sorts NULL (and NaN) as the LARGEST values — last under
# ASC, first under DESC; Spark treats NULL as smallest (first/last).
# Append the explicit NULLS direction to every ORDER BY item that
# doesn't already state one.
_ORDER_BY_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
_ORDER_TERM_RE = re.compile(
    r"\b(LIMIT|OFFSET|SETTINGS|FORMAT|UNION|INTERSECT|EXCEPT|WINDOW|ROWS|RANGE)\b",
    re.IGNORECASE,
)


def _rewrite_order_by_nulls(text: str) -> str:
    out, pos = [], 0
    while True:
        m = _ORDER_BY_RE.search(text, pos)
        if not m:
            out.append(text[pos:])
            return "".join(out)
        end = _clause_end(text, m.end(), _ORDER_TERM_RE)
        fixed = []
        for s in split_top(text[m.end() : end]):
            if not s or re.search(r"\bNULLS\b", s, re.IGNORECASE):
                fixed.append(f" {s}")
            elif re.search(r"\bDESC\b\s*$", s, re.IGNORECASE):
                fixed.append(f" {s} NULLS FIRST")
            else:
                fixed.append(f" {s} NULLS LAST")
        out.append(text[pos : m.end()])
        out.append(",".join(fixed))
        if end < len(text) and not text[end].isspace() and text[end] not in ")]":
            out.append(" ")
        pos = end


# position(haystack, needle[, start]) — ClickHouse puts the haystack
# FIRST; Spark's builtin position(substr, str) puts the needle first,
# so passing through silently searches the wrong way around.
def _rewrite_position(text: str) -> str:
    pos = 0
    while True:
        m = re.search(r"\b(position|positionCaseInsensitive)\s*\(", text[pos:])
        if not m:
            return text
        at = pos + m.start()
        args, end = call_args(text, pos + m.end() - 1)
        if len(args) < 2:  # SQL-standard position(x IN y) — leave alone
            pos = at + len(m.group(0))
            continue
        h, n = args[0], args[1]
        if m.group(1).endswith("CaseInsensitive"):
            h, n = f"lower({h})", f"lower({n})"
        start = f", {args[2]}" if len(args) > 2 else ""
        text = text[:at] + f"locate({n}, {h}{start})" + text[end:]


# identifier[expr] subscripts: ClickHouse indexes arrays 1-based and
# maps by key — exactly Spark's element_at; Spark's native [] is
# 0-based for arrays, so passing subscripts through silently shifts
# every array index by one. MUST run before any rewrite that injects
# Spark-native lambda bodies (which use 0-based st[i-1] internally).
def _subscript_base_start(text: str, bracket_idx: int) -> int:
    """Start of the expression a subscript applies to: an identifier
    chain (``arr``, ``t.col``) or a call (``splitByChar(…)``), walked
    backwards from the ``[``. Returns -1 if the bracket is a literal."""
    j = bracket_idx - 1
    if j < 0:
        return -1
    if text[j] == ")":
        depth = 0
        while j >= 0:
            c = text[j]
            if c == ")":
                depth += 1
            elif c == "(":
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        if j < 0:
            return -1
        j -= 1
    elif not (text[j].isalnum() or text[j] in "_."):
        return -1
    while j >= 0 and (text[j].isalnum() or text[j] in "_."):
        j -= 1
    return j + 1


def _rewrite_subscripts(text: str) -> str:
    pos = 0
    while True:
        idx = text.find("[", pos)
        if idx == -1:
            return text
        start = _subscript_base_start(text, idx)
        if start == -1 or start == idx:
            pos = idx + 1  # array literal or stray bracket — leave alone
            continue
        base = text[start:idx]
        # identifier chain, call, or parenthesized expression — a bare
        # `(...)`-wrapped base is 1-based in CH too (r11 dialect fuzz:
        # `(arraySort(arr))[1]` fell through to Spark's 0-based [])
        if not re.match(r"[A-Za-z_(]", base):
            pos = idx + 1
            continue
        expr, j = base, idx
        while j < len(text) and text[j] == "[":
            end = close_paren(text, j)
            if end == -1:
                return text  # unbalanced; leave untouched
            # NB: no static CAST on the index — maps subscript by string
            # keys too; Engine.sql casts an array's decimal index
            # (arr[i+1] on UInt64) where Catalyst rejects it
            expr = f"element_at({expr}, {text[j + 1 : end]})"
            j = end + 1
        text = text[:start] + expr + text[j:]
        pos = start + len(expr)


def _rewrite_sample(text: str) -> str:
    """SAMPLE clause (lectures/lecture_07.md:16, lecture_08.md:41-50):
    ``SAMPLE 0.1`` (fraction) / ``SAMPLE 10000`` (row budget) →
    ``TABLESAMPLE (10.0 PERCENT)`` / ``TABLESAMPLE (10000 ROWS)``."""

    def sub(m: re.Match) -> str:
        num = m.group(2)
        if "." in num or float(num) < 1:
            return f"{m.group(1)} TABLESAMPLE ({float(num) * 100} PERCENT)"
        return f"{m.group(1)} TABLESAMPLE ({num} ROWS)"

    return _SAMPLE_RE.sub(sub, text)


def _rewrite_numbers(text: str) -> str:
    """numbers(N) / numbers(start, count) table function
    (lectures/lecture_07.md:44-49, lecture_10.md:44-45) → range():
    generated JVM-side, parallelized, no scan."""

    def sub(m: re.Match) -> str:
        a, b = m.group(1), m.group(2)
        rng = f"range({a}, {int(a) + int(b)})" if b else f"range({a})"
        return f"(SELECT id AS number FROM {rng})"

    text = _NUMBERS_RE.sub(sub, text)
    # system.numbers (unbounded generator; hw02.md:110 benchmarks
    # `FROM system.numbers LIMIT … OFFSET …`) → a 2^40 range: lazily
    # generated per-partition, so LIMIT stops generation early
    return re.sub(
        r"\bsystem\.numbers\b",
        "(SELECT id AS number FROM range(0, 1099511627776))",
        text,
        flags=re.IGNORECASE,
    )


def _rewrite_dictget(text: str, dicts: dict[str, str], lits: Masked) -> str:
    """SQL-level dictGet family (lectures/lecture_11.md:20-40,305-345).

    ``dictGet('d', 'attr', k)`` → a correlated scalar subquery over the
    registered ``dict_d`` view. Catalyst rewrites the subquery into a
    (broadcast-able) left outer join, so the lookup stays JVM-side —
    same physical shape as :meth:`Dictionary.get`.
    """
    while True:
        m = re.search(r"\bdict(Get|GetOrDefault|GetOrNull|Has)\s*\(", text)
        if not m:
            return text
        kind = m.group(1)
        args, end = call_args(text, text.index("(", m.start()))
        dname = lits.value(args[0])
        key = dicts.get(dname)
        if key is None:
            raise KeyError(f"unknown dictionary: {dname}")
        if kind == "Has":
            repl = f"((SELECT count(*) FROM dict_{dname} WHERE __dk = ({args[1]})) > 0)"
        else:
            attr = lits.value(args[1])
            sub = f"(SELECT max(__da_{attr}) FROM dict_{dname} WHERE __dk = ({args[2]}))"
            if kind == "GetOrDefault":
                repl = f"coalesce({sub}, {args[3]})"
            else:
                repl = sub
        text = text[: m.start()] + repl + text[end:]


def _expand_macros(
    text: str, macros: dict[str, tuple[list[str], str]], lits: Masked
) -> str:
    """SQL lambda UDFs (F1; lectures/lecture_06.md:102-119,
    homeworks/hw04.md:76-103): ``CREATE FUNCTION f AS (x, k) -> k*x``
    registers a macro; calls are inlined textually, so the body stays a
    plain Catalyst expression (codegen'd, pushdown-able) rather than a
    black-box UDF. Nested/composed macro calls expand up to depth 8.
    """
    name_re = re.compile(
        r"\b(" + "|".join(sorted(macros, key=len, reverse=True)) + r")\s*\("
    )
    for _ in range(8):
        m = name_re.search(text)
        if not m:
            return text
        params, body = macros[m.group(1)]
        args, end = call_args(text, text.index("(", m.start()))
        if len(args) != len(params):
            raise ValueError(f"{m.group(1)} expects {len(params)} args, got {len(args)}")
        out = lits.mask(body)
        for p, a in zip(params, args):
            out = re.sub(rf"\b{re.escape(p)}\b", f"({a})", out)
        text = text[: m.start()] + f"({out})" + text[end:]
    return text


def _rewrite_joinget(text: str, tables: dict, lits: Masked) -> str:
    """joinGet('join_tbl', 'attr', key) (J11; lectures/lecture_09.md:
    236-283): point lookup into a Join-engine table. The table's join
    key is its ORDER BY / engine key from the registry; the call
    becomes a correlated scalar subquery → broadcast-able left join,
    the same physical shape as the reference's in-RAM hash side."""
    while True:
        m = re.search(r"\bjoinGet\s*\(", text)
        if not m:
            return text
        args, end = call_args(text, text.index("(", m.start()))
        tname = lits.value(args[0])
        td = tables.get(tname)
        if td is None or not td.order_by:
            raise KeyError(f"joinGet: unknown or keyless table {tname!r}")
        key = td.order_by[0]
        attr = lits.value(args[1])
        repl = f"(SELECT max({attr}) FROM {tname} WHERE {key} = ({args[2]}))"
        text = text[: m.start()] + repl + text[end:]


def translate(
    text: str,
    tables: dict | None = None,
    dicts: dict | None = None,
    macros: dict | None = None,
    lits: Masked | None = None,
) -> str:
    """Translate ClickHouse-dialect SQL into Spark SQL.

    ``dicts`` maps dictionary name → key column for dictGet rewrites;
    ``macros`` maps SQL-lambda-UDF name → (params, body) for inlining.
    Every pass runs on masked text (functions/lexer.py); a caller that
    has already masked ``text`` passes its table as ``lits``. The result
    is unmasked, ready for ``spark.sql``.
    """
    tables = tables or {}
    if lits is None:
        lits = Masked(text)
        text = lits.text
    if macros:
        text = _expand_macros(text, macros, lits)
    text = _rewrite_scalar_cte(text)
    # CH's default database prefix over the engine's flat temp-view
    # namespace: `default.t` ≡ `t` (the Airflow lab's etl.py qualifies
    # every statement; clusters/airflow_and_ch/airflow/dags/etl.py:16-35).
    # Only known registered names are stripped, so struct fields or
    # other-catalog references never get mangled.
    text = re.sub(
        r"\bdefault\.(\w+)",
        lambda m: m.group(1) if m.group(1) in tables else m.group(0),
        text,
    )

    def final_sub(m: re.Match) -> str:
        return f"FROM {m.group(1)}__final"

    # client-side artifact: the `\G` vertical-format terminator
    # (hw02.md:110-style probes)
    text = re.sub(r"\s*\\G\s*$", "", text).rstrip()
    # trailing clauses that only affect the CH client/session, not the
    # result: SETTINGS k=v[, …] (lecture_10.md:181) and FORMAT <fmt>
    # (lecture_03.md:209-213) — stripped; session settings are routed
    # via Engine.execute("SET …")
    text = re.sub(
        r"\s+SETTINGS\s+\w+\s*=\s*[^,;]+(?:\s*,\s*\w+\s*=\s*[^,;]+)*\s*$",
        "",
        text,
        flags=re.IGNORECASE,
    )
    text = re.sub(r"\s+FORMAT\s+\w+\s*$", "", text, flags=re.IGNORECASE)
    text = _FINAL_RE.sub(final_sub, text)
    # ClickHouse allows order-requiring window functions with no ORDER BY
    # in the OVER — "arbitrary order" (hw07.md:96 `row_number() OVER ()`).
    # Spark demands an ordering; monotonically_increasing_id() supplies
    # the same arbitrary-but-consistent order without a global sort (it
    # is partition-local: no shuffle, no single-task ordering barrier).
    text = re.sub(
        r"\b(row_number|rank|dense_rank|ntile\s*\(\s*\d+\s*\))(\s*\(\s*\))?"
        r"\s+OVER\s*\(\s*((?:PARTITION\s+BY\s+(?:(?!ORDER\s+BY)[^()])*)?)\s*\)",
        lambda m: (
            f"{m.group(1)}{m.group(2) or ''} OVER ({m.group(3)}"
            f"{' ' if m.group(3) else ''}ORDER BY monotonically_increasing_id())"
        ),
        text,
        flags=re.IGNORECASE,
    )
    # GLOBAL IN/JOIN (lecture_15.md:194-214) is a distributed-execution
    # hint — Spark's broadcast exchange does this automatically
    text = re.sub(r"\bGLOBAL\s+(IN|JOIN)\b", r"\1", text, flags=re.IGNORECASE)
    # Enum columns are stored as NAME strings; ClickHouse compares enums
    # by numeric code too (`payment_type = 1`, hw02.md:91-105) — rewrite
    # code literals to the declared name (= / != / <> / IN lists). Range
    # comparisons (`payment_type > 2`) and ORDER BY compare by CODE in
    # CH, so those substitute a name→code CASE lookup for the column.
    # Scoped per table: a same-named non-enum column in a query that
    # never references the enum's table is left alone.
    for tname, td in tables.items():
        if not re.search(rf"\b{tname}\b", text):
            continue
        listed = getattr(td, "columns", None) or ()
        for col, mapping in [(c.name, c.enum) for c in listed if c.enum]:
            code2name = {v: k for k, v in mapping.items()}
            code_case = (
                f"CASE {col} "
                + " ".join(f"WHEN {lits.quote(n)} THEN {c}" for n, c in mapping.items())
                + " END"
            )

            def eq_sub(m, c2n=code2name):
                name = c2n.get(int(m.group(2)))
                return m.group(1) + lits.quote(name) if name is not None else m.group(0)

            def in_sub(m, c2n=code2name):
                vals = ", ".join(
                    lits.quote(c2n[int(x)]) if int(x) in c2n else x
                    for x in (s.strip() for s in m.group(2).split(","))
                )
                return m.group(1) + vals + m.group(3)

            text = re.sub(rf"(\b{col}\s*(?:=|!=|<>)\s*)(\d+)\b", eq_sub, text)
            text = re.sub(
                rf"(\b{col}\s+(?:NOT\s+)?IN\s*\()([\d\s,]+)(\))",
                in_sub,
                text,
                flags=re.IGNORECASE,
            )
            # range predicate against a code literal → compare codes
            text = re.sub(
                rf"\b{col}\s*(<=|>=|<|>)\s*(\d+)\b",
                lambda m, ce=code_case: f"({ce}) {m.group(1)} {m.group(2)}",
                text,
            )
            # ORDER BY enum_col [ASC|DESC] → order by numeric code
            def order_sub(m, c=col, ce=code_case):
                clause = re.sub(rf"\b{c}\b(?!\s*{LIT})", f"({ce})", m.group(2))
                return m.group(1) + clause

            text = re.sub(
                rf"(\bORDER\s+BY\s+)((?:(?!\b(?:LIMIT|OFFSET|SETTINGS|FORMAT)\b).)*\b{col}\b"
                rf"(?:(?!\b(?:LIMIT|OFFSET|SETTINGS|FORMAT)\b).)*?)(?=\s+\b(?:LIMIT|OFFSET|SETTINGS|FORMAT)\b|$)",
                order_sub,
                text,
                flags=re.IGNORECASE | re.DOTALL,
            )
    # `x IN set_table` (Set engine, lecture_09.md:451-496) → subquery IN
    for tname, td in tables.items():
        if getattr(td, "engine", "") == "Set":
            text = re.sub(
                rf"\bIN\s+{tname}\b",
                f"IN (SELECT * FROM {tname})",
                text,
                flags=re.IGNORECASE,
            )
    # GROUP BY … WITH TOTALS → GROUPING SETS ((keys), ()): the totals
    # row is surfaced as the NULL-keyed grouping-sets row (ClickHouse
    # ships it out-of-band with default-valued keys; the grouping-sets
    # row is the idiomatic in-band Spark representation, one agg pass)
    text = re.sub(
        r"\bGROUP\s+BY\s+(.+?)\s+WITH\s+TOTALS\b",
        lambda m: f"GROUP BY GROUPING SETS (({m.group(1)}), ())",
        text,
        flags=re.IGNORECASE | re.DOTALL,
    )
    text = _PARAM_RE.sub(lambda m: f":{m.group(1)}", text)
    text = _COUNT0_RE.sub("count(*)", text)
    agg_funcs = {
        c.name: c.agg_function
        for td in tables.values()
        for c in getattr(td, "columns", None) or ()
        if c.agg_function
    }
    text = _rewrite_finalize_aggregation(text, agg_funcs, lits)
    text = _rewrite_state_combinators(text)
    text = re.sub(r"\buniqExact\s*\(", "count(DISTINCT ", text)
    text = _rewrite_multiif(text)
    text = _rewrite_transform4(text)
    text = _rewrite_count_equal(text)
    text = _rewrite_empty(text)
    text = _rewrite_empty_arrays(text)
    # scalar range(n) / range(start, end[, step]) (CH array family;
    # half-open like CH, empty when n <= start) — only when NOT a table
    # relation in FROM. The filter guard makes range(0) → [] instead of
    # sequence's descending [0, -1].
    def _range_sub(m: re.Match) -> str:
        parts = [p.strip() for p in m.group(1).split(",")]
        if len(parts) == 1:
            n = parts[0]
            return (
                f"filter(sequence(0, greatest(({n}) - 1, 0)), __r -> __r < ({n}))"
            )
        start, stop = parts[0], parts[1]
        step = f", {parts[2]}" if len(parts) > 2 else ""
        return (
            f"filter(sequence({start}, greatest(({stop}) - 1, {start}){step}), "
            f"__r -> __r < ({stop}))"
        )

    text = re.sub(
        r"(?<!FROM )(?<!from )\brange\s*\(([^()]+)\)", _range_sub, text
    )
    # assumeNotNull/toNullable/materialize only re-type (or force-
    # materialize a constant column) in CH — identity here (Spark
    # nullability is inferred; there is no const-column distinction);
    # the name reduces to plain parentheses
    text = re.sub(r"\b(?:assumeNotNull|toNullable|materialize)\s*\(", "(", text)
    # window-function aliases: CH's frame-aware lag/lead and camelCase
    # rank names are Spark's snake_case builtins
    text = re.sub(r"\blagInFrame\s*\(", "lag(", text)
    text = re.sub(r"\bleadInFrame\s*\(", "lead(", text)
    text = re.sub(r"\bfirstValue\s*\(", "first_value(", text)
    text = re.sub(r"\blastValue\s*\(", "last_value(", text)
    text = re.sub(r"\bdenseRank\s*\(", "dense_rank(", text)
    text = re.sub(r"\bpercentRank\s*\(", "percent_rank(", text)
    # runningDifference(x) / neighbor(x, n[, d]): CH's block-order row
    # functions — expressed as window lag/lead over the same arbitrary-
    # but-consistent order the orderless-window rewrite uses
    text = re.sub(
        r"\brunningDifference\s*\(([^()]+)\)",
        r"coalesce((\1) - lag(\1, 1) OVER "
        r"(ORDER BY monotonically_increasing_id()), 0)",
        text,
    )

    def _neighbor_sub(m: re.Match) -> str:
        x, n = m.group(1).strip(), m.group(2).strip()
        d = m.group(3).strip() if m.group(3) else "NULL"
        fn, off = ("lag", n.lstrip("-")) if n.startswith("-") else ("lead", n)
        return (
            f"{fn}({x}, {off}, {d}) OVER "
            f"(ORDER BY monotonically_increasing_id())"
        )

    text = re.sub(
        r"\bneighbor\s*\(([^,()]+),\s*(-?\d+)\s*(?:,\s*([^()]+?)\s*)?\)",
        _neighbor_sub,
        text,
    )
    # toDecimal32/64/128(x, scale) → typed DECIMAL cast (precision per
    # the CH type's range; scale must be a literal, as in CH)
    text = re.sub(
        r"\btoDecimal(32|64|128)\s*\(\s*([^,()]+?)\s*,\s*(\d+)\s*\)",
        lambda m: "CAST({} AS DECIMAL({}, {}))".format(
            m.group(2), {"32": 9, "64": 18, "128": 38}[m.group(1)], m.group(3)
        ),
        text,
    )
    # accurateCast(x, 'Type') / accurateCastOrNull — CH's checked casts;
    # Spark CAST already errors in ANSI mode, TRY_CAST nulls
    def _acc_cast(m: re.Match) -> str:
        from otus_clickhouse_spark.functions.ddl import ch_type_to_spark

        fn = "TRY_CAST" if m.group(1) else "CAST"
        spark_t, _null = ch_type_to_spark(lits.value(m.group(3)))
        return f"{fn}({m.group(2)} AS {spark_t})"

    text = re.sub(
        rf"\baccurateCast(OrNull)?\s*\(\s*([^,()]+?)\s*,\s*({LIT})\s*\)",
        _acc_cast,
        text,
    )
    text = _rewrite_null_distinct_combinators(text)
    text = _rewrite_if_combinators(text)
    text = _rewrite_kurtpop(text)
    text = _rewrite_crypto_hashes(text)
    text = _rewrite_bounding_ratio(text)
    text = _rewrite_timeslots_default(text)
    text = _rewrite_splitByChar(text)
    text = _rewrite_extractAll(text)
    text = _array_literals(text)
    text = _rewrite_subscripts(text)
    text = _rewrite_position(text)
    text = _rewrite_tostartofinterval(text)
    text = _rewrite_dynamic_interval(text)
    # CH tolerates a trailing comma at the end of the select list
    # (lecture_07.md:43-45 inserts carry one); Spark does not
    text = re.sub(r",\s*(FROM\b)", r" \1", text, flags=re.IGNORECASE)
    text = _rewrite_tostartofweek(text)
    text = _rewrite_tuple_element(text, lits)
    text = _rewrite_array_lambda(text)
    text = _rewrite_array_plain(text)
    text = _rewrite_quantiles(text)
    text = _rewrite_behavioral(text, lits)
    text = _rewrite_array_combinators(text, lits)
    text = _rewrite_datediff(text, lits)
    text = _rewrite_age(text, lits)
    text = _rewrite_select_array_join(text)
    text = _rewrite_array_join(text)
    text = _rewrite_sample(text)
    text = _rewrite_numbers(text)
    if dicts:
        text = _rewrite_dictget(text, dicts, lits)
    text = _rewrite_joinget(text, tables, lits)
    text = _rewrite_order_by_nulls(text)
    text = _ALIAS_RE.sub(lambda m: _SIMPLE_ALIASES[m.group(1)] + "(", text)
    return lits.unmask(text)
