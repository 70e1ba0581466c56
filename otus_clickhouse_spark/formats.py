"""ClickHouse output-FORMAT rendering (S12; lectures/lecture_03.md:196-213).

The reference client prints result sets in named formats (``FORMAT
Pretty``, ``… CSVWithNames``, ``… JSONEachRow``, ``\\G`` vertical);
this module reproduces the wire-visible ones for the CLI
(:mod:`otus_clickhouse_spark.__main__`). Rendering is a driver-side
concern over an already-collected (small) result — result-set
computation stays distributed; a huge export goes through
``Engine.insert`` / ``df.write`` instead (S18).
"""

from __future__ import annotations

import json
from datetime import date, datetime
from decimal import Decimal

def _cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime) else v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}" for k, x in v.items()) + "}"
    return str(v)


def _json_cell(v):
    if isinstance(v, (datetime, date, Decimal)):
        return _cell(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [_json_cell(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _json_cell(x) for k, x in v.items()}
    return v


def _is_num(v) -> bool:
    return isinstance(v, (int, float, Decimal)) and not isinstance(v, bool)


def render(columns: list[str], rows: list, fmt: str = "PrettyCompact") -> str:
    """Render collected rows (list of tuples/Rows) in a CH output format."""
    data = [tuple(r) for r in rows]
    if fmt == "Null":
        return ""
    if fmt in ("Pretty", "PrettyCompact"):
        return _pretty(columns, data)
    if fmt == "Vertical":
        return _vertical(columns, data)
    if fmt == "JSONEachRow":
        return "\n".join(
            json.dumps(
                {c: _json_cell(v) for c, v in zip(columns, r)}, ensure_ascii=False
            )
            for r in data
        )
    if fmt == "Values":
        return ", ".join(
            "(" + ",".join(_sql_literal(v) for v in r) + ")" for r in data
        )
    sep = "\t" if fmt.startswith(("TSV", "TabSeparated")) else ","
    with_names = fmt.endswith("WithNames")
    out = [sep.join(columns)] if with_names else []
    quote = sep == ","
    for r in data:
        out.append(sep.join(_csv_cell(v, quote) for v in r))
    return "\n".join(out)


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if _is_num(v):
        return _cell(v)
    return "'" + _cell(v).replace("'", "\\'") + "'"


def _csv_cell(v, quote: bool) -> str:
    s = "" if v is None else _cell(v)
    if quote and any(c in s for c in ',"\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def _pretty(columns: list[str], data: list[tuple]) -> str:
    """CH Pretty box table: ``┌─col─┬─…`` header, numbers right-aligned."""
    cells = [[_cell(v) for v in r] for r in data]
    widths = [
        max(len(c), *(len(row[i]) for row in cells)) if cells else len(c)
        for i, c in enumerate(columns)
    ]
    numeric = [
        all(_is_num(r[i]) or r[i] is None for r in data) if data else False
        for i in range(len(columns))
    ]
    head = "┌" + "┬".join("─" + (c + "─").ljust(w + 1, "─") for c, w in zip(columns, widths)) + "┐"
    lines = [head]
    for row in cells:
        body = "│".join(
            " " + (s.rjust(w) if numeric[i] else s.ljust(w)) + " "
            for i, (s, w) in enumerate(zip(row, widths))
        )
        lines.append("│" + body + "│")
    lines.append("└" + "┴".join("─" * (w + 2) for w in widths) + "┘")
    return "\n".join(lines)


def _vertical(columns: list[str], data: list[tuple]) -> str:
    """``\\G`` / FORMAT Vertical: one ``col: value`` line per column."""
    w = max((len(c) for c in columns), default=0)
    blocks = []
    for i, row in enumerate(data, 1):
        lines = [f"Row {i}:", "─" * 6]
        lines += [f"{c.ljust(w)}: {_cell(v)}" for c, v in zip(columns, row)]
        blocks.append("\n".join(lines))
    return "\n\n".join(blocks)


def serialize_header(df, fmt: str) -> str | None:
    """Column-names header line for the ``*WithNames`` produce formats
    (ADVICE r8: serialize_frame emitted only data rows for
    csvwithnames/tsvwithnames, so a consumer expecting CH's header-
    first framing misparsed the first record). Returns the header
    message for WithNames formats — escaped with the same field rules
    as the data rows — and None for everything else. The produce path
    publishes it as the first message of each block, matching CH's
    per-written-block header emission."""
    fmt = fmt.lower()
    if fmt in ("csvwithnames",):
        def _csv(c: str) -> str:
            if any(ch in c for ch in ',"\n\r'):
                return '"' + c.replace('"', '""') + '"'
            return c

        return ",".join(_csv(c) for c in df.columns)
    if fmt in ("tsvwithnames", "tabseparatedwithnames"):
        def _tsv(c: str) -> str:
            c = c.replace("\\", "\\\\").replace("\n", "\\n").replace("\r", "\\r")
            return c.replace("\t", "\\t")

        return "\t".join(_tsv(c) for c in df.columns)
    return None


def serialize_frame(df, fmt: str, line_framed: bool = False):
    """Row-per-message serialization as COLUMN EXPRESSIONS: render every
    row of ``df`` into one string message (single ``value`` column) per
    ``fmt`` — the produce-side twin of :func:`render`, kept in this
    module so the per-format escaping rules live in ONE place (r7
    verdict #5: the same CSV/TSV rules previously existed here for the
    CLI and separately in engine._kafka_produce_frame). Serialization
    happens task-side; the driver never sees row data.

    ``line_framed=True`` is the file-topic stand-in's contract — one
    message per LINE (ADVICE r7): CSV fields escape backslash/CR/LF
    (CH TabSeparated-style, backslash first so the escaping is
    unambiguous) BEFORE the RFC-4180 quoting decision, so a quoted
    field can never carry a literal line break and one logical row is
    always one message, matching the real broker's one-row-one-message
    framing. With a length-framed real broker (``line_framed=False``)
    CSV stays pure RFC-4180, where a quoted field may span lines
    within one message."""
    from pyspark.sql import functions as F

    fmt = fmt.lower()
    cols = df.columns

    def _esc_breaks(s):
        s = F.regexp_replace(s, r"\\", r"\\\\")
        s = F.regexp_replace(s, "\n", r"\\n")
        return F.regexp_replace(s, "\r", r"\\r")

    if fmt in ("jsonasstring", "rawblob", "lineasstring"):
        # raw formats ONLY — a single-column JSONEachRow table still
        # publishes a JSON object, not the bare cast value
        return df.select(F.col(cols[0]).cast("string").alias("value"))
    if fmt in ("csv", "csvwithnames"):
        # RFC-4180 quoting: fields containing the separator, a quote,
        # or a line break are wrapped and inner quotes doubled
        def _csvf(c: str):
            s = F.col(c).cast("string")
            if line_framed:
                s = _esc_breaks(s)
            quoted = F.concat(F.lit('"'), F.regexp_replace(s, '"', '""'), F.lit('"'))
            needs = (
                s.contains(",") | s.contains('"') | s.contains("\n") | s.contains("\r")
            )
            return F.when(needs, quoted).otherwise(s)

        return df.select(F.concat_ws(",", *[_csvf(c) for c in cols]).alias("value"))
    if fmt in ("tsv", "tabseparated", "tsvwithnames", "tabseparatedwithnames"):
        # CH TabSeparated escaping: backslash first, then tab/newline
        def _tsvf(c: str):
            s = _esc_breaks(F.col(c).cast("string"))
            return F.regexp_replace(s, "\t", r"\\t")

        return df.select(F.concat_ws("\t", *[_tsvf(c) for c in cols]).alias("value"))
    # JSONEachRow and friends
    return df.select(F.to_json(F.struct(*cols)).alias("value"))
