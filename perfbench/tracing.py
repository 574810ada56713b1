"""In-memory span tracer for the benchmark's calls into each engine layer.

A span records name, start, end, parent and trace id (spans of one cycle
or one query share a trace id), plus counts attached at the same
boundary. When a SparkContext is given, each span runs under its own job
group (``setJobGroup``) and records how many Spark jobs that group ran
(``statusTracker``), so job counts are attributed where the work happens.

Spans stay in memory and are written once, at exit. ``self_times``
derives each span's self time: its duration minus the part of its
interval that its children cover. A disabled tracer records nothing and
costs one attribute check per call."""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc if enabled else None
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent inside the tracer's own bookkeeping
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one layer call. Yields the span record (or a throwaway
        dict when disabled) so callers can attach counts to it."""
        if not self.enabled:
            yield {}
            return
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "thread": threading.get_ident(),
            "start": 0.0,
            "end": 0.0,
            "jobs": 0,
            **attrs,
        }
        if self.sc is not None:
            self.sc.setJobGroup(f"pb-{sid}", name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(f"pb-{sid}"))
                if parent is not None:
                    self.sc.setJobGroup(f"pb-{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += (rec["start"] - t_in) + (time.perf_counter() - rec["end"])

    def dump(self, path: str, origin: float) -> None:
        """Write spans (times relative to ``origin``) with their self times."""
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                row = dict(s, start=s["start"] - origin, end=s["end"] - origin, self=selfs[s["id"]])
                f.write(json.dumps(row) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals,
    each clipped to the parent's interval."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] in by_id:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids[s["id"]]
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - _covered(clipped)
    return out
