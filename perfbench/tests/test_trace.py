"""Span self-time arithmetic and wrapper installation."""

import cloudpickle

from perfbench import trace
from perfbench.trace import Span


def _spans():
    # pass [0, 10] > query [1, 9] > construct [1, 4] > sink [2, 3]
    #                              > action [4, 8]
    return [
        Span(0, "pass", "pass", None, 0, 0.0, 10.0),
        Span(1, "q", "query", 0, 0, 1.0, 9.0),
        Span(2, "construct", "construct", 1, 0, 1.0, 4.0),
        Span(3, "sinks.writers.write", "sinks", 2, 0, 2.0, 3.0),
        Span(4, "action", "action", 1, 0, 4.0, 8.0),
    ]


def test_self_time_subtracts_direct_children_only():
    st = trace.self_times(_spans())
    assert st == {0: 2.0, 1: 1.0, 2: 2.0, 3: 1.0, 4: 4.0}


def test_named_self_times_cover_the_root_wall_time():
    by_name = trace.self_time_by_name(_spans())
    assert sum(by_name.values()) == 10.0
    assert by_name["construct"] == 2.0


def test_innermost_walks_up_to_the_requested_kind():
    by_id = {s.id: s for s in _spans()}
    assert trace.innermost(by_id, 3, ("construct",)).id == 2
    assert trace.innermost(by_id, 3, ("sinks",)).id == 3
    assert trace.innermost(by_id, 4, ("construct",)) is None
    assert trace.innermost(by_id, None, ("pass",)) is None


def test_tracer_nests_spans_and_records_the_pass():
    tr = trace.Tracer()
    tr.pass_id = 3
    with tr.span("outer", "pass"):
        with tr.span("inner", "query"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert tr.pass_spans(3) == tr.spans and tr.pass_spans(0) == []


def test_wrappers_record_spans_and_are_removed():
    from vunnel_spark.sinks import writers

    original = writers.publish_snapshot
    tr = trace.Tracer()
    undo = trace.install_wrappers(tr)
    try:
        assert isinstance(writers.publish_snapshot, trace._Traced)
        assert isinstance(vars(writers.EnvelopeWriter)["write"], trace._Traced)
        # a wrapper pickles as a reference to the module attribute, so a
        # worker that imports the module gets the plain function
        assert b"publish_snapshot" in cloudpickle.dumps(writers.publish_snapshot)
        tr.pass_id = 0
        try:
            writers.validate_checksum_listing("/nonexistent", "/nonexistent")
        except Exception:  # noqa: BLE001 - only the span matters here
            pass
        assert [s.name for s in tr.spans] == ["sinks.writers.validate_checksum_listing"]
    finally:
        trace.remove_wrappers(undo)
    assert writers.publish_snapshot is original
