"""Self-tests for the benchmark's own arithmetic.

Run with ``python3 -m pytest perfbench/tests -q`` from the repo root; no
Spark session is started.
"""

from __future__ import annotations

import decimal
import math
import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(1, os.path.dirname(os.path.dirname(HERE)))

import measure  # noqa: E402


# ------------------------------------------------------- tail percentile


@pytest.mark.parametrize("n", [11, 12, 20, 32, 99, 100, 101, 250, 1000, 5000])
def test_tail_keeps_ten_samples_above(n):
    samples = [float(i) for i in range(n)]
    p, v = measure.tail_percentile(samples)
    above = sum(1 for s in samples if s > v)
    assert above >= 10
    if p < 99:
        # one percentile higher would leave fewer than ten above
        rank = math.ceil((p + 1) * n / 100)
        assert n - rank < 10


def test_tail_known_values():
    assert measure.tail_percentile([float(i) for i in range(100)]) == (90, 89.0)
    assert measure.tail_percentile([float(i) for i in range(12)]) == (16, 1.0)
    assert measure.tail_percentile([float(i) for i in range(2000)])[0] == 99


def test_tail_ignores_input_order():
    a = [0.3, 1.2, 0.9, 4.0, 0.1, 2.2, 0.5, 0.7, 3.1, 0.2, 1.9, 0.8]
    assert measure.tail_percentile(a) == measure.tail_percentile(sorted(a))


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_more_than_ten(n):
    with pytest.raises(ValueError):
        measure.tail_percentile([1.0] * n)


# ------------------------------------------------------------- self time


def _span(name, start, end, parent=None):
    return measure.Span(name, start, end, parent=parent)


def test_self_time_without_children_is_duration():
    assert measure.self_times([_span("a", 1.0, 3.5)]) == [2.5]


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span("query", 0.0, 10.0),
        _span("build", 1.0, 4.0, parent=0),
        _span("load", 3.0, 6.0, parent=0),     # overlaps build by 1
        _span("late", 8.0, 12.0, parent=0),    # runs past its parent
    ]
    # children cover [1, 6] and [8, 10] of the parent: 7 of 10
    assert measure.self_times(spans)[0] == pytest.approx(3.0)


def test_self_time_nested_grandchildren():
    spans = [
        _span("query", 0.0, 10.0),
        _span("build", 0.0, 6.0, parent=0),
        _span("load", 1.0, 2.0, parent=1),
        _span("load", 2.0, 5.0, parent=1),
    ]
    assert measure.self_times(spans) == pytest.approx([4.0, 2.0, 1.0, 3.0])


def test_union_length():
    assert measure.union_length([]) == 0.0
    assert measure.union_length([(0, 1), (2, 3)]) == 2
    assert measure.union_length([(0, 5), (1, 2), (4, 7)]) == 7


def test_tracer_records_nesting():
    tr = measure.Tracer()
    with tr.span("query"):
        with tr.span("operators.build"):
            pass
        with tr.span("exec.action"):
            pass
    assert [s.name for s in tr.spans] == ["query", "operators.build", "exec.action"]
    assert [s.parent for s in tr.spans] == [None, 0, 0]
    assert all(s.end >= s.start for s in tr.spans)


def test_wrapper_is_rebound_in_every_module_and_idle_when_inactive():
    def load(x):
        return x + 1

    a = types.ModuleType("a")
    b = types.ModuleType("b")
    a.load = b.load = b.alias = load
    tr = measure.Tracer()
    wrapped = tr.wrap("io.load", load)
    assert measure.install_wrapper({"a": a, "b": b}, load, wrapped) == 3
    assert a.load is wrapped and b.alias is wrapped
    assert a.load(1) == 2
    assert [s.name for s in tr.spans] == ["io.load"]
    tr.active = False
    assert b.load(2) == 3
    assert len(tr.spans) == 1


# ------------------------------------------------------------- busy share


def test_busy_frac():
    assert measure.busy_frac(8.0, 4.0, 4) == 0.5
    assert measure.busy_frac(0.0, 3.0, 4) == 0.0
    assert measure.busy_frac(12.0, 3.0, 4) == 1.0


# ---------------------------------------------------- digest normalization


@pytest.fixture(scope="module")
def digest():
    import check

    return check.digest


def test_digest_floats_compare_to_six_significant_digits(digest):
    assert digest(["x"], [(0.1 + 0.2,)]) == digest(["x"], [(0.3,)])
    assert digest(["x"], [(123456.71,)]) == digest(["x"], [(123456.74,)])
    assert digest(["x"], [(123456.7,)]) != digest(["x"], [(123457.7,)])


def test_digest_decimal_equals_float(digest):
    assert digest(["x"], [(decimal.Decimal("1.50"),)]) == digest(["x"], [(1.5,)])


def test_digest_nulls(digest):
    # a NULL in a double column and NaN both come out of pandas as NaN
    assert digest(["x"], [(None,), (1.5,)]) == digest(["x"], [(math.nan,), (1.5,)])
    # a NULL string stays distinct from the string "None"
    assert digest(["s"], [(None,)]) != digest(["s"], [("None",)])


def test_digest_ignores_row_and_column_order(digest):
    rows = [(1, "a"), (2, "b")]
    assert digest(["k", "v"], rows) == digest(["k", "v"], rows[::-1])
    assert digest(["k", "v"], rows) == digest(["v", "k"], [(v, k) for k, v in rows])


def test_digest_sees_values(digest):
    assert digest(["k"], [(1,)]) != digest(["k"], [(2,)])
    assert digest(["k"], [(1,), (1,)]) != digest(["k"], [(1,)])
