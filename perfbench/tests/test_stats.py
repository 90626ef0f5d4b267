"""Quartile helper and span arithmetic."""

import statistics

import pytest

from stats import Tracer, covered, quartiles, spread


def test_quartiles_match_statistics_module():
    vals = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    assert quartiles(vals) == tuple(statistics.quantiles(vals, n=4))
    assert quartiles(vals)[1] == statistics.median(vals)


def test_quartiles_of_one_value():
    assert quartiles([2.5]) == (2.5, 2.5, 2.5)
    with pytest.raises(ValueError):
        quartiles([])


def test_spread_is_iqr_over_median():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert spread(vals) == pytest.approx((q3 - q1) / med)


def test_covered_merges_overlaps_and_clips():
    # [0,2] and [1,3] overlap -> [0,3]; [5,9] is clipped to [5,8]
    assert covered([(1, 3), (0, 2), (5, 9)], 0, 8) == pytest.approx(6.0)
    assert covered([], 0, 8) == 0.0
    assert covered([(9, 10)], 0, 8) == 0.0


def test_self_time_subtracts_union_of_children():
    tr = Tracer()
    root = tr.add("pass", 0.0, 10.0, None)
    tr.add("build", 1.0, 4.0, root.id)
    tr.add("exec", 3.0, 6.0, root.id)  # overlaps build by 1 s
    grandchild = tr.add("inner", 1.0, 2.0, 1)
    assert tr.self_time(root) == pytest.approx(10.0 - 5.0)
    assert tr.self_time(tr.spans[1]) == pytest.approx(3.0 - 1.0)
    assert tr.self_time(grandchild) == pytest.approx(1.0)


def test_spans_nest_by_context():
    tr = Tracer()
    with tr.span("pass", index=0) as p:
        with tr.span("query", query="q") as q:
            with tr.span("build") as b:
                pass
            with tr.span("exec") as e:
                pass
    assert (q.parent, b.parent, e.parent) == (p.id, q.id, q.id)
    assert p.parent is None
    assert p.start <= q.start <= b.start <= b.end <= e.start <= e.end <= q.end <= p.end
    assert tr.self_time(q) == pytest.approx(q.dur - b.dur - e.dur, abs=1e-6)


def test_enclosing_picks_innermost_open_span():
    tr = Tracer()
    tr.add("query", 0.0, 10.0, None, query="outer")
    tr.add("query", 2.0, 4.0, None, query="inner")
    assert tr.enclosing(3.0, "query").attrs["query"] == "inner"
    assert tr.enclosing(5.0, "query").attrs["query"] == "outer"
    assert tr.enclosing(11.0, "query") is None
