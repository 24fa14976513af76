"""Spans: nesting, self time, outside wrapping and restoring."""

import json
import types

import pytest

from perfbench.spans import Span, Tracer, ms_excluding, outermost, self_ms


def _tracer_with(spans):
    t = Tracer()
    t.spans = spans
    return t


def test_self_time_subtracts_union_of_children():
    # parent 0..10 s; children 1..4 and 3..5 overlap (4 s covered), 7..8
    spans = [
        Span(0, "p", 0.0, 10.0, None, "op"),
        Span(1, "c", 1.0, 4.0, 0, "op"),
        Span(2, "c", 3.0, 5.0, 0, "op"),
        Span(3, "c", 7.0, 8.0, 0, "op"),
        Span(4, "g", 1.5, 2.0, 1, "op"),  # grandchild: inside a child
    ]
    t = _tracer_with(spans)
    kids = t.children()
    assert self_ms(spans[0], kids) == pytest.approx(5000.0)
    assert self_ms(spans[1], kids) == pytest.approx(2500.0)
    assert ms_excluding(spans[0], kids, t, "g") == pytest.approx(9500.0)


def test_dump_writes_self_times(tmp_path):
    t = _tracer_with([Span(0, "p", 0.0, 2.0, None, "op", {"_span": 0, "write": True}),
                      Span(1, "c", 0.5, 1.0, 0, "op")])
    path = tmp_path / "spans.json"
    t.dump(str(path))
    rows = json.loads(path.read_text())
    assert [r["self_ms"] for r in rows] == pytest.approx([1500.0, 500.0])
    assert rows[0]["attrs"] == {"write": True} and rows[1]["parent"] == 0


def test_outermost_skips_same_name_nesting():
    spans = [
        Span(0, "r", 0.0, 3.0, None, None),
        Span(1, "r", 1.0, 2.0, 0, None),
        Span(2, "x", 2.0, 3.0, 0, None),
        Span(3, "r", 2.1, 2.5, 2, None),
    ]
    by_id = {s.id: s for s in spans}
    assert [s.id for s in outermost(spans, "r", by_id)] == [0]


def test_wrap_records_nested_spans_and_uninstall_restores():
    mod = types.SimpleNamespace()
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    orig_outer = mod.outer
    t = Tracer()
    t.wrap(mod, "inner", "inner")
    t.wrap(mod, "outer", "outer", attrs_of=lambda x: {"x": x},
           result_attrs=lambda r: {"r": r})
    t.op = "op-1"
    assert mod.outer(1) == 4
    outer, inner = t.spans[0], t.spans[1]
    assert (outer.name, inner.name) == ("outer", "inner")
    assert inner.parent == outer.id and outer.parent is None
    assert outer.attrs["x"] == 1 and outer.attrs["r"] == 4
    assert inner.op == "op-1"
    t.uninstall()
    assert mod.outer is orig_outer


def test_wrap_marks_errors_and_reraises():
    mod = types.SimpleNamespace()

    def boom():
        raise PermissionError("no")
    mod.boom = boom
    t = Tracer()
    t.wrap(mod, "boom", "boom")
    with pytest.raises(PermissionError):
        mod.boom()
    assert t.spans[0].attrs["error"] == "PermissionError"
    assert t.spans[0].end >= t.spans[0].start
