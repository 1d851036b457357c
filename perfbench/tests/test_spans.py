import types

import pytest

from perfbench import spans


def mk(i, start, end, parent=None, layer="l"):
    return spans.Span(i, f"s{i}", layer, start, end, parent)


def test_union_length_merges_and_clips():
    assert spans.union_length([], 0, 10) == 0
    assert spans.union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert spans.union_length([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_covered_child_time_once():
    s = [
        mk(0, 0.0, 10.0),
        mk(1, 1.0, 4.0, parent=0),
        mk(2, 3.0, 6.0, parent=0),  # overlaps child 1 by 1s
        mk(3, 4.5, 5.5, parent=2),  # grandchild: not subtracted from 0
        mk(4, 9.0, 12.0, parent=0),  # runs past its parent: clipped
    ]
    st = spans.self_times(s)
    assert st[0] == pytest.approx(10 - (5 + 1))
    assert st[1] == pytest.approx(3)
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(1)


def test_layer_self_times_sum_per_layer():
    s = [mk(0, 0, 10, layer="a"), mk(1, 2, 4, 0, layer="b"), mk(2, 5, 6, 0, layer="b")]
    assert spans.layer_self_times(s) == pytest.approx({"a": 7, "b": 3})


def test_tracer_nesting_and_job_groups():
    groups = []
    t = spans.Tracer(groups.append)
    with t.span("outer", "a"):
        with t.span("inner", "b"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    # the group follows the innermost open span and is cleared at the end
    assert groups == ["outer", "inner", "outer", None]


def test_tracer_closes_span_on_error():
    t = spans.Tracer()
    with pytest.raises(RuntimeError):
        with t.span("x", "a"):
            raise RuntimeError("boom")
    assert t.spans[0].end >= t.spans[0].start
    with t.span("y", "a"):
        pass
    assert t.spans[1].parent is None


def test_wrap_names_from_arguments_and_patched_restores():
    t = spans.Tracer()
    mod = types.SimpleNamespace(f=lambda x, table: x + 1)
    orig = mod.f
    with spans.patched([(mod, "f", lambda fn: t.wrap(fn, lambda x, table: f"f[{table}]", "a"))]):
        assert mod.f(1, table="t1") == 2
    assert mod.f is orig
    assert [s.name for s in t.spans] == ["f[t1]"]
