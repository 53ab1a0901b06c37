import threading

import pytest

from spans import Span, Tracer, layer_self_ms, self_times, union_length


def _span(sid, parent, t0, t1, layer="x"):
    return Span(sid, parent, 0, layer, f"s{sid}", t0, t1)


def test_union_length_overlaps_and_gaps():
    assert union_length([]) == 0
    assert union_length([(1, 5), (4, 8)]) == 7
    assert union_length([(1, 2), (3, 4), (3.5, 3.7)]) == 2
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_nested_and_overlapping_children():
    spans = [_span(1, None, 0, 10, "stmt"),
             _span(2, 1, 1, 5),          # child A
             _span(3, 2, 2, 3),          # grandchild under A
             _span(4, 1, 4, 8),          # child B overlaps A by 1
             _span(5, 1, 9, 12)]         # ends after its parent: clipped
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 8)   # union [1,8] + [9,10]
    assert st[2] == pytest.approx(4 - 1)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(4)
    assert st[5] == pytest.approx(1)
    assert all(v >= 0 for v in st.values())


def test_self_time_child_outside_parent_counts_zero():
    spans = [_span(1, None, 0, 10, "stmt"), _span(2, 1, 1, 3),
             _span(3, 2, 4, 6)]            # grandchild outside its parent
    st = self_times(spans)
    assert st[3] == 0
    assert st[2] == pytest.approx(2)


def test_layer_self_sums_stay_within_latency():
    tr = Tracer()
    tr.spans = [_span(1, None, 0, 10, "stmt"), _span(2, 1, 1, 5, "a"),
                _span(3, 2, 2, 3, "b"), _span(4, 1, 6, 9, "a")]
    per_stmt, over = layer_self_ms(tr)
    assert over == []
    c = per_stmt[0]
    assert c["a"] == pytest.approx(6000)
    assert c["b"] == pytest.approx(1000)
    assert c["stmt"] == pytest.approx(3000)
    assert sum(c.values()) == pytest.approx(10000)


def test_wrapped_calls_nest_and_other_threads_hang_off_the_root():
    tr = Tracer()

    def leaf():
        return 1

    traced_leaf = tr.wrap(leaf, "inner", "leaf")

    def outer():
        return traced_leaf() + 1

    traced_outer = tr.wrap(outer, "outer", "outer")
    assert traced_outer() == 2          # no statement open: no spans
    assert tr.spans == []
    root = tr.begin(7)
    assert traced_outer() == 2
    th = threading.Thread(target=traced_leaf)
    th.start()
    th.join(timeout=10)
    assert not th.is_alive()
    tr.end()
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    outer_sp = by_name["outer"][0]
    leaves = by_name["leaf"]
    assert outer_sp.parent == root.sid
    assert sorted(s.parent for s in leaves) == sorted(
        [outer_sp.sid, root.sid])
    assert all(s.stmt == 7 for s in tr.spans)


def test_failed_call_marks_span_and_reraises():
    tr = Tracer()

    def boom():
        raise KeyError("x")

    traced = tr.wrap(boom, "l", "boom")
    tr.begin(0)
    with pytest.raises(KeyError):
        traced()
    tr.end()
    assert [s.err for s in tr.spans if s.name == "boom"] == [True]


def test_patch_function_replaces_aliases_and_uninstall_restores():
    import types
    import sys

    mod = types.ModuleType("lightning_metastore_spark._perfbench_probe")
    other = types.ModuleType("lightning_metastore_spark._perfbench_alias")

    def f():
        return 3

    mod.f = f
    other.g = f
    sys.modules[mod.__name__] = mod
    sys.modules[other.__name__] = other
    try:
        tr = Tracer()
        tr.patch_function(mod, "f", "l")
        assert mod.f is not f and other.g is mod.f
        tr.begin(0)
        assert other.g() == 3
        tr.end()
        assert [s.name for s in tr.spans] == ["stmt", "_perfbench_probe.f"]
        tr.uninstall()
        assert mod.f is f and other.g is f
    finally:
        del sys.modules[mod.__name__], sys.modules[other.__name__]
