"""Tests for the benchmark's own helpers. No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import ingest, interactive  # noqa: E402
from perfbench.common import (  # noqa: E402
    Outcome,
    latency_summary,
    per_key_geomean_ms,
    percentile,
    tail_percentile,
)
from perfbench.trace import Span, Tracer, layer_report, self_times, union_length  # noqa: E402


# ------------------------------------------------------------ percentiles
@pytest.mark.parametrize(
    "n,q", [(19, None), (20, 50), (30, 66), (50, 80), (99, 89), (100, 90), (1000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    assert tail_percentile(n) == q


def test_latency_summary_reports_tail_with_its_sample_count():
    values = list(range(1, 101))
    s = latency_summary([float(v) for v in values])
    assert s["n"] == 100
    assert s["p50_ms"] == 50.5
    assert s["tail_q"] == 90
    assert s["p90_ms"] == 90.0
    assert sum(v > s["p90_ms"] for v in values) == 10
    assert "tail_q" not in latency_summary([1.0] * 12)


def test_percentile_is_nearest_rank():
    assert percentile([5.0, 1.0, 3.0], 50) == 3.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 100) == 4.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_per_key_geomean_weighs_keys_equally():
    samples = [("a", 10.0), ("a", 10.0), ("a", 10.0), ("b", 1000.0)]
    assert per_key_geomean_ms(samples) == pytest.approx(100.0)


# ------------------------------------------------------------ self time
def _span(name, start, end, parent=None, op=0):
    return Span(name, start, end, parent, op)


def test_self_time_of_nested_spans_sums_to_root_duration():
    spans = [
        _span("bench.op", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("a.inner", 2.0, 3.0, parent=1),
        _span("b", 5.0, 9.0, parent=0),
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 1.0, 4.0])
    rep = layer_report(spans, n_ops=1)
    assert rep["op_time_s"] == pytest.approx(10.0)
    assert rep["self_sum_s"] == pytest.approx(10.0)
    assert rep["layers"]["a"]["self_ms_per_op"] == pytest.approx(2000.0)


def test_overlapping_children_are_counted_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    spans = [_span("root", 0.0, 4.0), _span("x", 0.0, 3.0, 0), _span("y", 2.0, 5.0, 0)]
    # y runs past its parent: only the part inside the parent is covered
    assert self_times(spans)[0] == pytest.approx(0.0)


def test_spans_outside_operations_are_left_out():
    spans = [_span("setup", 0.0, 5.0, op=None), _span("bench.op", 5.0, 6.0)]
    rep = layer_report(spans, n_ops=1)
    assert set(rep["layers"]) == {"bench.op"}
    assert rep["op_time_s"] == pytest.approx(1.0)


def test_tracer_parents_other_threads_to_the_adopting_span():
    tr = Tracer(True)
    with tr.op("cycle", adopt=True) as op_id:
        with tr.span("inner"):
            pass
        done = threading.Event()

        def work():
            with tr.span("callback"):
                pass
            done.set()

        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=10)
        assert done.is_set()
    names = {s.name: s for s in tr.spans}
    assert names["inner"].parent == 0 and names["callback"].parent == 0
    assert names["callback"].op == op_id
    rep = layer_report(tr.spans, 1)
    assert rep["self_sum_over_op_time"] == pytest.approx(1.0)


def test_tracer_finds_an_open_operation_by_header_value():
    tr = Tracer(True)
    with tr.op("statement") as op_id:
        assert tr.op_span(str(op_id)) == 0
    assert tr.op_span(str(op_id)) is None
    off = Tracer(False)
    with off.op("statement") as op_id, off.span("x") as idx:
        assert idx is None
    assert off.spans == []


# ------------------------------------------------------- seed determinism
def test_same_seed_same_statements():
    a = interactive.make_statements(7, rounds=5)
    b = interactive.make_statements(7, rounds=5)
    assert [s.text() for s in a] == [s.text() for s in b]
    assert [s.fmt for s in a] == [s.fmt for s in b]
    assert [s.text() for s in a] != [s.text() for s in interactive.make_statements(8, 5)]
    n = len(interactive.TEMPLATES)
    for r in range(5):
        assert {s.template for s in a[r * n:(r + 1) * n]} == set(interactive.TEMPLATE_BY_NAME)


def test_same_seed_same_ingest_blocks():
    def draw(seed):
        g = ingest.Generator(seed)
        sizes = [g.insert_size(c) for c in range(4)]
        sql, block = g.insert_block(sizes[0])
        msgs, mblock = g.messages(50)
        return sizes, sql, block, msgs, mblock, g.point_user()

    a, b = draw(3), draw(3)
    assert a[0] == b[0] and a[1] == b[1] and a[3] == b[3] and a[5] == b[5]
    for key in ("user_id", "ts_s", "kind", "amount"):
        assert (a[2][key] == b[2][key]).all() and (a[4][key] == b[4][key]).all()
    assert sorted(a[0][:2]) == [ingest.SMALL, ingest.LARGE]
    assert any(draw(s)[1] != a[1] for s in range(4, 10))


# ------------------------------------------------ correctness checks bite
@pytest.mark.parametrize("fmt", interactive.FORMATS)
def test_interactive_check_accepts_rendered_rows_and_catches_wrong_ones(fmt):
    from otus_clickhouse_spark.formats import render

    rows = [("A", 3, 1234.5), ("B", 10, 0.25)]
    body = render(["flag", "n", "price"], rows, fmt)
    got = interactive.parse_body(body, fmt)
    assert interactive.check_rows(got, [(b, n, p) for b, n, p in reversed(rows)]) is None
    assert interactive.check_rows(got, [("A", 3, 1234.5), ("B", 11, 0.25)]) is not None
    assert interactive.check_rows(got, rows[:1]) == "2 rows, expected 1"


def test_norm_cell_matches_duckdb_and_text_forms():
    import datetime as dt

    assert interactive.norm_cell(dt.date(1996, 1, 2)) == "1996-01-02"
    assert interactive.norm_cell("1996-01-02") == "1996-01-02"
    assert interactive.norm_cell(5.0) == interactive.norm_cell("5") == "5"
    assert interactive.norm_cell(0.1 + 0.2) == interactive.norm_cell("0.3")
    assert interactive.norm_cell(None) == interactive.norm_cell("\\N")


class FakeEngine:
    """Answers the ingest reads: ``answers[table](text)`` gives the rows."""

    def __init__(self, tmp, answers):
        self.tables = {
            "raw": types.SimpleNamespace(path=str(tmp / "raw")),
            "daily": types.SimpleNamespace(path=str(tmp / "daily")),
        }
        self.answers = answers

    def run_query(self, text):
        return [], self.answers[text.split(" FROM ")[1].split()[0]](text)

    def run(self, text):
        return self.run_query(text)[1]


def _pipeline(tmp, gen, answers, out):
    session = types.SimpleNamespace(tracer=Tracer(False))
    return ingest.Pipeline(session, FakeEngine(tmp, answers), gen, None, out)


def _landed_generator(seed):
    gen = ingest.Generator(seed)
    gen.landed(gen.insert_block(ingest.SMALL)[1])
    gen.rows_inserted += ingest.SMALL
    return gen


@pytest.mark.parametrize("off_by", [0, 1])
def test_ingest_reads_catch_a_wrong_count(tmp_path, off_by):
    gen = _landed_generator(1)
    answers = {
        "daily": lambda _text: gen.rollup_rows(),
        "raw": lambda text: [(int(gen.per_user[int(text.rsplit("=", 1)[1])]) + off_by,)],
    }
    out = Outcome()
    _pipeline(tmp_path, gen, answers, out).reads(record=True)
    assert set(out.mismatches) == ({"ingest.point_read"} if off_by else set())


def test_ingest_final_checks_catch_lost_rows_and_a_wrong_rollup(tmp_path):
    gen = _landed_generator(2)
    daily = ingest.expected_daily(gen.blocks)
    out = Outcome()
    good = {"raw": lambda _t: [(ingest.SMALL,)], "daily": lambda _t: daily}
    ingest._final_checks(FakeEngine(tmp_path, good), gen, out)
    assert out.mismatches == {}

    wrong = [daily[0][:3] + (daily[0][3] + 1,)] + daily[1:]
    bad = {"raw": lambda _t: [(ingest.SMALL - 1,)], "daily": lambda _t: wrong}
    out = Outcome()
    ingest._final_checks(FakeEngine(tmp_path, bad), gen, out)
    assert set(out.mismatches) == {"ingest.raw_rows_exactly_once", "ingest.daily_rollup"}


def test_batch_oracle_check_catches_a_wrong_value_row_or_column():
    import pandas as pd

    from perfbench.batch import oracle_mismatch

    spark_rows = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    assert oracle_mismatch(spark_rows, spark_rows.iloc[::-1]) is None
    assert oracle_mismatch(spark_rows, pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})) == (
        "value hash mismatch"
    )
    assert oracle_mismatch(spark_rows, spark_rows.iloc[:1]).startswith("rows")
    assert oracle_mismatch(spark_rows, spark_rows.rename(columns={"v": "w"})).startswith("columns")


def test_failing_reproducers_count_in_the_failed_share_by_name():
    from perfbench.defects import defect_detail

    out = Outcome(attempted=8)
    d = defect_detail({"a": {"ok": True, "detail": ""}, "b": {"ok": False, "detail": "x"}}, out)
    assert d["known_defects_failing"] == ["b"]
    assert d["failed_share_with_defects"] == pytest.approx(1 / 10)


def test_feeder_serves_whole_rounds_and_at_least_the_minimum():
    sts = interactive.make_statements(1, rounds=4)
    n = len(interactive.TEMPLATES)
    past = interactive.Feeder(sts, n, deadline=0.0, min_rounds=2)
    assert sum(1 for _ in iter(past.next, None)) == 2 * n
    future = interactive.Feeder(sts, n, deadline=float("inf"), min_rounds=1)
    assert sum(1 for _ in iter(future.next, None)) == 4 * n


def test_operations_before_the_timed_window_are_left_out():
    spans = [_span("bench.op", 0.0, 1.0, op=0), _span("bench.op", 1.0, 3.0, op=1)]
    rep = layer_report(spans, n_ops=1, first_op=1)
    assert rep["layers"]["bench.op"]["calls"] == 1
    assert rep["op_time_s"] == pytest.approx(2.0)


def test_hd_median_is_a_median_that_does_not_jump_across_a_gap():
    from perfbench.common import hd_median

    assert hd_median([7.0]) == pytest.approx(7.0)
    assert hd_median([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(3.0)
    assert hd_median([5.0, 1.0, 3.0, 2.0, 4.0]) == pytest.approx(3.0)
    # two clusters of equal size: moving one sample moves the plain
    # median across the gap, the estimate by well under half as much
    low, high = [100.0 + i for i in range(10)], [500.0 + i for i in range(10)]
    before, after = low + high, low[:-1] + high + [600.0]
    plain_jump = statistics.median(after) - statistics.median(before)
    assert abs(hd_median(after) - hd_median(before)) < 0.5 * plain_jump
    with pytest.raises(ValueError):
        hd_median([])
