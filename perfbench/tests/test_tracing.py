"""Self time on a hand-built span tree, and the tracer's own records."""

import pytest

from perfbench.tracing import Tracer, self_times


def _s(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [
        _s(1, None, 0.0, 10.0),
        _s(2, 1, 1.0, 4.0),
        _s(3, 1, 3.0, 6.0),  # overlaps its sibling: covered once
        _s(4, 1, 8.0, 12.0),  # runs past its parent: clipped at 10
        _s(5, 2, 1.5, 2.0),  # grandchild: only its own parent loses it
    ]
    got = self_times(spans)
    assert got[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert got[2] == pytest.approx(3.0 - 0.5)
    assert got[3] == pytest.approx(3.0)
    assert got[4] == pytest.approx(4.0)
    assert got[5] == pytest.approx(0.5)


def test_tracer_links_parents_and_shares_trace_ids():
    tr = Tracer(enabled=True)
    with tr.span("cycle"):
        with tr.span("decode", events=3):
            pass
    with tr.span("cycle"):
        pass
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s["name"], []).append(s)
    first, second = sorted(by_name["cycle"], key=lambda s: s["start"])
    (decode,) = by_name["decode"]
    assert decode["parent"] == first["id"] and decode["trace"] == first["trace"]
    assert second["trace"] != first["trace"] and decode["events"] == 3


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("cycle") as rec:
        rec["x"] = 1
    assert tr.spans == [] and tr.overhead_s == 0.0
