"""Span self-time and self-stage arithmetic."""

from perfbench.spans import Span, Tracer, covered


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0


def _tracer(spans):
    t = Tracer(None)
    t.spans = spans
    return t


def test_self_time_subtracts_the_union_of_children():
    root = Span(0, "op", None, 0, 0.0, 10.0)
    a = Span(1, "operators.merge", 0, 0, 1.0, 4.0)
    b = Span(2, "operators.popularity", 0, 0, 3.0, 6.0)  # overlaps a
    grandchild = Span(3, "sources.scan", 1, 0, 1.5, 2.0)
    t = _tracer([root, a, b, grandchild])
    assert t.self_time(root) == 5.0
    assert t.self_time(a) == 2.5
    assert t.self_time(grandchild) == 0.5


def test_self_stages_exclude_the_childrens_stages():
    root = Span(0, "streaming.loader.run", None, 0, 0.0, 1.0,
                stages={1: {}, 2: {}, 3: {}})
    child = Span(1, "operators.merge", 0, 0, 0.2, 0.8, stages={2: {}, 3: {}})
    t = _tracer([root, child])
    assert set(t.self_stages(root)) == {1}
    assert set(t.self_stages(child)) == {2, 3}


def test_nested_spans_record_parents_and_ops():
    t = Tracer(None)
    t.op = 4
    with t.span("op"):
        with t.span("operators.merge"):
            pass
    op, merge = t.spans
    assert merge.parent == op.id and op.parent is None
    assert merge.op == op.op == 4
    assert op.start <= merge.start <= merge.end <= op.end
