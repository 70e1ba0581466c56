"""Projections: pre-aggregated copies auto-selected by the optimizer.

Reference: ADD/MATERIALIZE PROJECTION + silent query redirection
(lectures/lecture_13.md:187-314, lecture_09.md:776-861,
homeworks/hw08.md:38-139). Spark realization per SURVEY.md §4: a
registered pre-aggregated companion DataFrame + a rewrite that serves a
matching ``groupBy(keys).agg`` from the projection instead of the base
scan — the one optimizer behavior Catalyst doesn't have built in.

The rewrite here is at the DataFrame-builder level (engine API), which
is where our query functions are constructed; a full Catalyst injection
(experimental ``spark.sql.extensions``) is not needed for parity.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from otus_clickhouse_spark.functions.lexer import Masked, split_top


@dataclass
class Projection:
    name: str
    table: str
    group_keys: tuple[str, ...]
    # agg column name -> (func, source col); funcs: sum,count,min,max
    aggs: dict[str, tuple[str, str]]
    df: DataFrame = None


@dataclass
class ProjectionRegistry:
    projections: dict[str, Projection] = field(default_factory=dict)
    use_projections: bool = True  # optimize_use_projections (lecture_13.md:243)
    serve_hits: int = 0  # observability: how many queries were projection-served

    def add(self, base: DataFrame, proj: Projection) -> Projection:
        """MATERIALIZE PROJECTION: build + cache the pre-aggregate.

        ``uniq`` stores a mergeable HLL sketch (the AggregatingMergeTree
        pattern, hw15's ``userUniq`` projection): re-aggregation to a
        coarser grouping unions sketches, and serving finalizes with the
        estimate — never a raw re-count."""
        aggs = []
        for out, (fn, col) in proj.aggs.items():
            src = F.col(col) if col != "*" else F.lit(1)
            if fn == "count":
                aggs.append(F.count(src).alias(out))
            elif fn == "uniq":
                aggs.append(F.hll_sketch_agg(src).alias(out))
            else:
                aggs.append(getattr(F, fn)(src).alias(out))
        proj.df = base.groupBy(*proj.group_keys).agg(*aggs).cache()
        self.projections[proj.name] = proj
        return proj

    def serve(self, table: str, group_keys: list[str], wanted: dict[str, tuple[str, str]]):
        """Return a projection DataFrame answering groupBy(keys).agg(wanted),
        or None → caller falls back to the base-table aggregation.

        Matching rule (same as CH's): the query's keys must be a subset
        of the projection's keys and every requested agg must be
        derivable (sum/count/min/max re-aggregate; avg = sum/count).
        """
        if not self.use_projections:
            return None
        for proj in self.projections.values():
            if proj.table != table:
                continue
            if not set(group_keys) <= set(proj.group_keys):
                continue
            if not all(a in proj.aggs and proj.aggs[a][0] == fn for a, (fn, _c) in wanted.items()):
                continue
            if set(group_keys) == set(proj.group_keys):
                cols = [
                    F.hll_sketch_estimate(a).alias(a) if fn == "uniq" else F.col(a)
                    for a, (fn, _c) in wanted.items()
                ]
                return proj.df.select(*group_keys, *cols)
            # coarser grouping: re-aggregate the projection
            # (sum/min/max/count merge directly; uniq unions HLL sketches)
            re_aggs = []
            for a, (fn, _c) in wanted.items():
                if fn == "uniq":
                    re_aggs.append(F.hll_sketch_estimate(F.hll_union_agg(a)).alias(a))
                else:
                    merge_fn = "sum" if fn in ("sum", "count") else fn
                    re_aggs.append(getattr(F, merge_fn)(a).alias(a))
            return proj.df.groupBy(*group_keys).agg(*re_aggs)
        return None

    # ------------------------------------------------- SQL auto-selection
    _AGG_SQL = re.compile(
        r"^\s*SELECT\s+(?P<select>.+?)\s+FROM\s+(?P<table>[A-Za-z_][\w]*)"
        r"(?:\s+WHERE\s+(?P<where>.+?))?"
        r"\s+GROUP\s+BY\s+(?P<keys>[\w\s,]+?)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _AGG_ITEM = re.compile(
        r"^(?P<fn>sum|count|min|max)\s*\(\s*(?P<col>\*|[\w]+)\s*\)\s+AS\s+(?P<alias>[\w]+)$",
        re.IGNORECASE,
    )

    def try_rewrite_sql(self, sql: str, lits: Masked):
        """Silent projection selection for the SQL entry point
        (lecture_13.md:243-314: the query keeps naming the base table;
        the optimizer serves it from the pre-aggregate).

        Handles the shape projections exist for: single-table
        ``SELECT keys…, agg(col) AS a… FROM t [WHERE pred-on-keys]
        GROUP BY keys…``. Anything else returns None and runs on the
        base table unchanged (exactly CH's fallback behavior). ``sql`` is
        masked by ``lits`` (functions/lexer.py).
        """
        if not self.use_projections or not self.projections:
            return None
        m = self._AGG_SQL.match(sql)
        if not m:
            return None
        table = m.group("table")
        keys = [k.strip() for k in m.group("keys").split(",") if k.strip()]
        wanted: dict[str, tuple[str, str]] = {}
        for item in split_top(m.group("select")):
            if item in keys:
                continue
            am = self._AGG_ITEM.match(item)
            if not am:
                return None
            wanted[am.group("alias")] = (am.group("fn").lower(), am.group("col"))
        where = m.group("where")
        served = self._serve_with_cols(table, keys, wanted)
        if served is None:
            return None
        if where:
            # predicate may only reference projection group keys — else the
            # pre-aggregate can't answer it (CH falls back the same way)
            proj_keys = {k.lower() for p in self.projections.values() for k in p.group_keys}
            sql_words = {"and", "or", "not", "in", "between", "like", "is", "null", "true", "false"}
            idents = set(re.findall(r"[A-Za-z_][\w]*", where))
            if any(i.lower() not in proj_keys | sql_words for i in idents):
                return None
            served = served.where(lits.unmask(where))
        self.serve_hits += 1
        return served

    def _serve_with_cols(self, table: str, keys: list[str], wanted: dict[str, tuple[str, str]]):
        """serve() variant that validates the agg source column too."""
        for proj in self.projections.values():
            if proj.table != table or not set(keys) <= set(proj.group_keys):
                continue
            renames = {}
            ok = True
            for alias, (fn, col) in wanted.items():
                match = next(
                    (
                        pname
                        for pname, (pfn, pcol) in proj.aggs.items()
                        if pfn == fn and (pcol == col or (col == "*" and pcol == "*"))
                    ),
                    None,
                )
                if match is None:
                    ok = False
                    break
                renames[alias] = match
            if not ok:
                continue
            if set(keys) == set(proj.group_keys):
                return proj.df.select(
                    *keys, *[F.col(pname).alias(alias) for alias, pname in renames.items()]
                )
            merge = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
            return proj.df.groupBy(*keys).agg(
                *[
                    getattr(F, merge[wanted[alias][0]])(pname).alias(alias)
                    for alias, pname in renames.items()
                ]
            )
        return None
