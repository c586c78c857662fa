import types

import pytest

from tracing import Span, Tracer, group_id, instrument, rebind, self_times, span_of_group, unbind, union_length


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(1, None, "query", "workload", 0.0, 10.0),
        Span(2, 1, "build", "queries", 1.0, 4.0),
        Span(3, 1, "execute", "exec", 5.0, 9.0),
        Span(4, 2, "catalog.load", "catalog", 1.5, 2.5),
        Span(5, 2, "catalog.load", "catalog", 2.0, 3.0),  # overlaps its sibling
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 3 - 4)
    assert st[2] == pytest.approx(3 - 1.5)
    assert st[3] == pytest.approx(4)
    assert st[4] == pytest.approx(1) and st[5] == pytest.approx(1)
    # self times of a tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(10 + 0.5)  # the overlap is counted twice


def test_self_time_clips_children_to_the_parent():
    spans = [Span(1, None, "a", "x", 0.0, 2.0), Span(2, 1, "b", "x", 1.0, 5.0)]
    assert self_times(spans)[1] == pytest.approx(1.0)


class FakeContext:
    def __init__(self):
        self.props = {}
        self.log = []

    def setJobGroup(self, gid, desc):
        self.props["spark.jobGroup.id"] = gid
        self.log.append(gid)

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_spans_nest_and_restore_the_job_group():
    clock = iter(range(100))
    sc = FakeContext()
    tr = Tracer(sc, clock=lambda: float(next(clock)))
    with tr.span("query", "workload"):
        outer = tr.current()
        with tr.span("build", "queries"):
            inner = tr.current()
            assert sc.props["spark.jobGroup.id"] == group_id(inner)
        assert sc.props["spark.jobGroup.id"] == group_id(outer)
    assert sc.props["spark.jobGroup.id"] is None
    by_name = {s.name: s for s in tr.spans}
    assert by_name["build"].parent == by_name["query"].id
    assert by_name["query"].parent is None
    assert span_of_group(group_id(7)) == 7 and span_of_group("a-run-id") is None


def test_rebind_reaches_names_imported_with_from():
    def load():
        return "loaded"

    pkg = types.ModuleType("pbfake")
    sub = types.ModuleType("pbfake.sub")
    pkg.load, sub.load, sub.other = load, load, len
    import sys

    sys.modules.update({"pbfake": pkg, "pbfake.sub": sub})
    try:
        tr = Tracer()
        wrapped = instrument(tr, load, "catalog.load", "catalog")
        done = rebind(load, wrapped, package="pbfake")
        assert {attr for _, attr in done} == {"load"} and len(done) == 2
        assert sub.load() == "loaded" and tr.spans[0].name == "catalog.load"
        unbind(done, load)
        assert sub.load is load and pkg.load is load
    finally:
        del sys.modules["pbfake"], sys.modules["pbfake.sub"]
