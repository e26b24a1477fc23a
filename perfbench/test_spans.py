"""Unit tests of the trace post-processing (no Spark needed).

    python3 -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Span, Tracer, overhead, self_times  # noqa: E402


def _nested() -> list[Span]:
    # iteration [0, 10]
    #   plans.build [1, 5]
    #     catalog.load [2, 3]
    #     operators.ids.rank [2.5, 4]   (overlaps catalog.load)
    #   spark.exec [6, 9]
    #     sinks.write [6, 8]
    return [
        Span(0, "iteration", 0.0, 10.0, None, 1),
        Span(1, "plans.build", 1.0, 5.0, 0, 1),
        Span(2, "catalog.load", 2.0, 3.0, 1, 1, jobs=1),
        Span(3, "operators.ids.rank", 2.5, 4.0, 1, 1, jobs=2),
        Span(4, "spark.exec", 6.0, 9.0, 0, 1, jobs=5),
        Span(5, "sinks.write", 6.0, 8.0, 4, 1, jobs=4),
    ]


def test_self_time_subtracts_union_of_children():
    st = self_times(_nested())
    # children cover [1, 5] and [6, 9]: 7 of 10 s
    assert st["iteration"]["self_s"] == pytest.approx(3.0)
    # overlapping children cover [2, 4]: the overlap counts once
    assert st["plans.build"]["self_s"] == pytest.approx(2.0)
    assert st["spark.exec"]["self_s"] == pytest.approx(1.0)
    assert st["catalog.load"]["self_s"] == pytest.approx(1.0)
    assert st["operators.ids.rank"]["self_s"] == pytest.approx(1.5)
    assert st["sinks.write"]["self_s"] == pytest.approx(2.0)
    assert st["iteration"]["total_s"] == pytest.approx(10.0)
    assert st["spark.exec"]["jobs"] == 5


def test_self_times_sum_to_root_duration_without_overlap():
    spans = [s for s in _nested() if s.name != "operators.ids.rank"]
    st = self_times(spans)
    assert sum(v["self_s"] for v in st.values()) == pytest.approx(10.0)


def test_child_outside_parent_is_clipped():
    spans = [Span(0, "a", 0.0, 2.0, None, 0), Span(1, "b", 1.0, 5.0, 0, 0)]
    assert self_times(spans)["a"]["self_s"] == pytest.approx(1.0)


def test_same_name_accumulates_calls():
    spans = [
        Span(0, "root", 0.0, 4.0, None, 0),
        Span(1, "catalog.load", 0.0, 1.0, 0, 0),
        Span(2, "catalog.load", 2.0, 2.5, 0, 0),
    ]
    st = self_times(spans)
    assert st["catalog.load"]["calls"] == 2
    assert st["catalog.load"]["self_s"] == pytest.approx(1.5)
    assert st["root"]["self_s"] == pytest.approx(2.5)


def test_nested_same_name_counts_total_and_jobs_once():
    # load_table_dist calling load_table: both traced as catalog.load
    spans = [
        Span(0, "plans.build", 0.0, 4.0, None, 0, jobs=3),
        Span(1, "catalog.load", 1.0, 3.0, 0, 0, jobs=2),
        Span(2, "catalog.load", 1.5, 2.5, 1, 0, jobs=1),
    ]
    st = self_times(spans)["catalog.load"]
    assert st["calls"] == 2
    assert st["total_s"] == pytest.approx(2.0)
    assert st["jobs"] == 2
    assert st["self_s"] == pytest.approx(2.0)


def test_overhead_is_traced_minus_untraced():
    o = overhead(2.6, 2.5)
    assert o["overhead_s"] == pytest.approx(0.1)
    assert o["overhead_frac"] == pytest.approx(0.04)


def test_tracer_records_nesting_and_counter():
    ticks = iter(range(100))
    tr = Tracer(True, counter=lambda: next(ticks))
    tr.iteration = 3
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert inner.iteration == outer.iteration == 3
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert (outer.jobs, inner.jobs) == (3, 1)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_patch_everywhere_rebinds_imported_names_and_restores():
    import types

    pkg = types.ModuleType("fakepkg")
    impl = types.ModuleType("fakepkg.impl")
    user = types.ModuleType("fakepkg.user")

    def ranked(x):
        return x + 1

    impl.ranked = ranked
    user.ranked = ranked  # bound by `from .impl import ranked`
    sys.modules.update({"fakepkg": pkg, "fakepkg.impl": impl, "fakepkg.user": user})
    try:
        tr = Tracer(True)
        assert tr.patch_everywhere(impl, "ranked", "rank", "fakepkg") == 2
        assert user.ranked(1) == 2 and impl.ranked(2) == 3
        assert [s.name for s in tr.spans] == ["rank", "rank"]
        tr.unpatch()
        assert user.ranked is ranked and impl.ranked is ranked
    finally:
        for k in ("fakepkg", "fakepkg.impl", "fakepkg.user"):
            sys.modules.pop(k, None)
