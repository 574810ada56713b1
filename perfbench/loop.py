"""Open-loop drivers shared by the workloads: the writer's cycles and the
analyst's paced queries."""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from typing import Callable

from .gen import Txn


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for an empty list."""
    if not values:
        return 0.0
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(round(q / 100 * len(v) + 0.5)) - 1))]


@dataclass
class LoopStats:
    freshness_s: list[float] = field(default_factory=list)  # one per delivered change
    delivered: int = 0
    offered: int = 0
    cycles: int = 0
    failed_cycles: int = 0
    late_s: float = 0.0  # how far the generator fell behind its schedule
    backlog_end: int = 0  # changes the last cycle took that had already missed a trigger
    last_commit: float = 0.0
    errors: list[str] = field(default_factory=list)


class OpenLoop:
    """The generator thread releases each transaction at ``t0 + due``
    (stamping how late it ran); the caller's thread delivers whatever has
    been released, one cycle per trigger, until every transaction due
    inside the window is delivered. Cycles start every ``trigger_s``
    seconds, or at once when the previous cycle overran its slot -- the
    processing-time trigger of a streaming query -- so every run has the
    same number of full cycles rather than a tail cycle of a few changes
    whose timing decides the figures. ``deliver(txns)`` returns the
    ``perf_counter`` time at which the batch became visible."""

    def __init__(
        self, txns: list[Txn], seconds: float, trigger_s: float, deliver: Callable[[list[Txn]], float]
    ):
        self.txns = [t for t in txns if 0 <= t.due < seconds]
        self.seconds = seconds
        self.trigger_s = trigger_s
        self.deliver = deliver
        self._released: list[Txn] = []
        self._next_due = self.txns[0].due if self.txns else float("inf")  # first not yet released
        self._cond = threading.Condition()

    def _emit(self, t0: float, stats: LoopStats) -> None:
        for i, t in enumerate(self.txns):
            delay = t0 + t.due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            now = time.perf_counter()
            with self._cond:
                stats.late_s = max(stats.late_s, now - (t0 + t.due))
                self._released.append(t)
                self._next_due = self.txns[i + 1].due if i + 1 < len(self.txns) else float("inf")
                self._cond.notify()

    def run(self, t0: float) -> LoopStats:
        stats = LoopStats(offered=sum(len(t.changes) for t in self.txns))
        gen = threading.Thread(target=self._emit, args=(t0, stats), name="generator", daemon=True)
        gen.start()
        slot = 1
        try:
            while True:
                with self._cond:
                    if self._next_due == float("inf") and not self._released:
                        break
                wait = t0 + slot * self.trigger_s - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                cutoff = time.perf_counter() - t0
                slot = int(cutoff // self.trigger_s) + 1
                with self._cond:
                    # a generator running late still owes what was due by now
                    self._cond.wait_for(lambda: self._next_due >= cutoff)
                    batch, self._released = self._released, []
                if not batch:
                    continue
                stats.cycles += 1
                stats.backlog_end = sum(len(t.changes) for t in batch if t.due < cutoff - self.trigger_s)
                try:
                    commit = self.deliver(batch)
                except Exception as e:  # noqa: BLE001 - a failed epoch is counted, not fatal
                    stats.failed_cycles += 1
                    stats.errors.append(f"{type(e).__name__}: {str(e)[:300]}")
                    continue
                stats.last_commit = commit
                for t in batch:
                    for _ in t.changes:
                        stats.freshness_s.append(commit - (t0 + t.due))
                    stats.delivered += len(t.changes)
        finally:
            gen.join(timeout=self.seconds + 60)
        return stats


@dataclass
class QueryStats:
    latency_s: list[float] = field(default_factory=list)
    round_s: list[float] = field(default_factory=list)  # summed run time of each round with no failed query
    round_due_s: list[float] = field(default_factory=list)  # the same rounds' summed latency from due time
    attempted: int = 0
    failed: int = 0
    by_kind: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def record(self, kind: str, latency_s: float) -> None:
        self.attempted += 1
        self.latency_s.append(latency_s)
        self.by_kind.setdefault(kind, []).append(latency_s)


def paced_loop(
    queries: list[tuple[str, Callable[[], object]]],
    rounds: int,
    slot_s: float,
    t0: float,
    stats: QueryStats,
) -> None:
    """One analyst, paced like a dashboard refresh: query ``i`` of the
    run is due at ``t0 + i * slot_s`` and starts then, or as soon as the
    query before it ends. Its latency runs from its due time, so a query
    that overran delays the next one's latency too; a round's figure sums
    its queries' run times instead, from start to end, so one overrun
    counts once. A failed query counts as attempted and failed, with no
    latency, and its round is not summed."""
    i = 0
    for _ in range(rounds):
        ok, run_s, late_s = True, 0.0, 0.0
        for kind, q in queries:
            due = t0 + i * slot_s
            i += 1
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            start = time.perf_counter()
            try:
                q()
            except Exception as e:  # noqa: BLE001 - counted against error_rate
                stats.attempted += 1
                stats.failed += 1
                stats.errors.append(f"{kind}: {type(e).__name__}: {str(e)[:300]}")
                ok = False
                continue
            end = time.perf_counter()
            stats.record(kind, end - due)
            run_s += end - start
            late_s += end - due
        if ok:
            stats.round_s.append(run_s)
            stats.round_due_s.append(late_s)
