"""Span recording and the self-time arithmetic."""

import threading

from perfbench import trace
from perfbench.trace import Span


def _span(sid, parent, name, start, end, req=1):
    return Span(sid, parent, name, start, end, req, 0)


def test_self_time_subtracts_children():
    spans = [
        _span(1, None, "op", 0.0, 10.0),
        _span(2, 1, "session.sql", 1.0, 4.0),
        _span(3, 2, "spark.sql", 2.0, 3.0),
        _span(4, 1, "exec.collect", 5.0, 9.0),
    ]
    own = trace.self_times(spans)
    assert own == {1: 3.0, 2: 2.0, 3: 1.0, 4: 4.0}
    # self times partition the root span
    assert sum(own.values()) == 10.0


def test_self_time_overlapping_and_overhanging_children():
    spans = [
        _span(1, None, "op", 0.0, 10.0),
        _span(2, 1, "a", 1.0, 5.0),
        _span(3, 1, "b", 3.0, 7.0),  # overlaps a: union is [1, 7]
        _span(4, 1, "c", 9.0, 12.0),  # clipped to [9, 10]
    ]
    assert trace.self_times(spans)[1] == 3.0


def test_union_length():
    assert trace.union_length([]) == 0.0
    assert trace.union_length([(0, 1), (2, 3)]) == 2.0
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0


def test_layer_self_seconds_groups_by_prefix():
    spans = [
        _span(1, None, "op:point_orders", 0.0, 10.0),
        _span(2, 1, "plans:rewrites.pg_casts", 1.0, 2.0),
        _span(3, 1, "plans:merge_sql.is_merge", 3.0, 3.5),
    ]
    layers = trace.layer_self_seconds(spans)
    assert layers == {"op": 8.5, "plans": 1.5}


def test_tracer_records_nesting_and_requests():
    t = trace.Tracer()
    with t.request(7):
        with t.span("op:x"):
            with t.span("session.sql"):
                pass
    by_name = {s.name: s for s in t.spans}
    assert by_name["session.sql"].parent == by_name["op:x"].sid
    assert by_name["op:x"].parent is None
    assert {s.request for s in t.spans} == {7}


def test_tracer_stacks_are_per_thread():
    t = trace.Tracer()
    barrier = threading.Barrier(2)

    def worker(rid):
        with t.request(rid), t.span(f"op:{rid}"):
            barrier.wait(timeout=10)
            with t.span("inner"):
                pass

    threads = [threading.Thread(target=worker, args=(r,)) for r in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=10)
        assert not th.is_alive()
    ops = {s.request: s for s in t.spans if s.name.startswith("op:")}
    for s in t.spans:
        if s.name == "inner":
            assert s.parent == ops[s.request].sid


class _Owner:
    def method(self, x):
        return x + 1

    @staticmethod
    def static(x):
        return x


def test_patch_wraps_and_unpatch_restores():
    t = trace.Tracer()
    orig = _Owner.method
    assert t.patch(_Owner, "method", "layer.method")
    assert _Owner().method(1) == 2
    assert [s.name for s in t.spans] == ["layer.method"]
    # static methods and missing attributes are left alone
    assert not t.patch(_Owner, "static", "layer.static")
    assert not t.patch(_Owner, "missing", "layer.missing")
    t.unpatch_all()
    assert _Owner.method is orig


def test_null_tracer_records_nothing():
    t = trace.NullTracer()
    with t.request(1), t.span("op:x"):
        pass
    assert not t.patch(_Owner, "method", "layer.method")
    assert t.spans == [] and _Owner.__dict__["method"].__name__ == "method"
