from tracing import Span, Tracer, self_times


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "op", None, 0.0, 10.0),
        Span(1, "build", 0, 1.0, 4.0),
        Span(2, "action", 0, 3.0, 6.0),  # overlaps build: union is 1..6
        Span(3, "inner", 2, 3.5, 4.5),
    ]
    st = self_times(spans)
    assert st[0] == 5.0
    assert st[1] == 3.0
    assert st[2] == 2.0
    assert st[3] == 1.0


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x") as s:
        assert s is None
    t.add("y", 0.0, 1.0)
    assert t.spans == []


def test_spans_nest_by_parent():
    t = Tracer(True)
    with t.span("op") as op:
        with t.span("build", op):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("op", None), ("build", 0)]
    assert all(s.end >= s.start for s in t.spans)
