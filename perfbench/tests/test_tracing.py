import types

import pytest

from perfbench.tracing import Tracer, percentile


def test_spans_nest_and_self_times_are_non_negative():
    tr = Tracer(True)
    with tr.span("query", group="q1"):
        with tr.span("query.build"):
            with tr.span("operators.localCheckpoint"):
                pass
        with tr.span("query.exec"):
            pass
    spans = {s["name"]: s for s in tr.closed_spans()}
    root = spans["query"]
    assert root["parent"] is None
    assert spans["query.build"]["parent"] == root["id"]
    assert spans["operators.localCheckpoint"]["parent"] == spans["query.build"]["id"]
    # a span without a group takes its parent's
    assert {s["group"] for s in spans.values()} == {"q1"}
    for s in spans.values():
        parent = next((p for p in spans.values() if p["id"] == s["parent"]), None)
        if parent is not None:
            assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]
    self_times = tr.self_times()
    assert all(v >= 0 for v in self_times.values())
    children = spans["query.build"]["end"] - spans["query.build"]["start"]
    children += spans["query.exec"]["end"] - spans["query.exec"]["start"]
    assert self_times[root["id"]] == pytest.approx(
        root["end"] - root["start"] - children, abs=1e-9
    )
    layers = tr.layer_self_seconds()
    assert set(layers) == {"query", "operators"}


def test_self_time_clips_overlapping_children():
    tr = Tracer(True)
    tr.spans = [
        {"id": 0, "name": "a", "start": 0.0, "end": 10.0, "parent": None, "group": None},
        {"id": 1, "name": "b", "start": 1.0, "end": 4.0, "parent": 0, "group": None},
        {"id": 2, "name": "c", "start": 3.0, "end": 6.0, "parent": 0, "group": None},
        {"id": 3, "name": "d", "start": 9.0, "end": 12.0, "parent": 0, "group": None},
    ]
    assert tr.self_times()[0] == pytest.approx(10 - 5 - 1)


def test_wrap_records_calls_and_unwrap_restores():
    mod = types.SimpleNamespace(__name__="pkg.mod", f=lambda x: x + 1)
    original = mod.f
    tr = Tracer(True)
    tr.wrap(mod, "f", "sources.f")
    assert mod.f(1) == 2
    assert tr.busy("sources.f")[1] == 1
    tr.unwrap_all()
    assert mod.f is original


def test_disabled_tracer_installs_nothing():
    mod = types.SimpleNamespace(__name__="m", f=len)
    tr = Tracer(False)
    tr.wrap(mod, "f")
    with tr.span("x"):
        pass
    assert mod.f is len and tr.spans == []


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 99) == 99
    assert percentile([3.0], 99) == 3.0
