"""Measurements taken from outside the engine: process memory from
``/proc``, Spark's cumulative stage metrics, and file counts on disk;
and the ``/proc`` walk that finds the processes a run must wait for."""

from __future__ import annotations

import os
import signal
import threading
import time

RSS_INTERVAL_S = 0.5


def _children(pid: int) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process ``pid`` started, directly or not."""
    kids = _children(pid)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _start_time(pid: int) -> str | None:
    """The process's start time in clock ticks, which tells it apart from
    a later process given the same pid; None once it has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


def wait_ended(pids: list[int], timeout_s: float) -> None:
    """Wait until every process in ``pids`` has ended; SIGKILL those still
    running after ``timeout_s`` and wait for them too."""
    live = {p: t for p in pids if (t := _start_time(p)) is not None}
    deadline = time.monotonic() + timeout_s
    killed = False
    while live:
        live = {p: t for p, t in live.items() if _start_time(p) == t}
        if live and not killed and time.monotonic() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
        if live:
            time.sleep(0.05)


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed VmHWM of this process's descendants (the JVM
    and the Python workers it forks) every ``RSS_INTERVAL_S`` and keeps
    the highest sum. The benchmark's own interpreter is excluded."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(map(_hwm_kb, descendants(os.getpid()))))

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def stage_totals(sc) -> dict[str, float]:
    """Cumulative executor metrics over every stage the app has run
    (``spark.ui.retainedStages`` is raised by the launcher so none are
    evicted). Delta two readings to cover a window."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(5000)
    except Exception:  # noqa: BLE001 - private API; a late event only skews the delta
        pass
    gw = sc._gateway
    empty = gw.jvm.java.util.ArrayList()
    stages = sc._jsc.sc().statusStore().stageList(empty, False, False, gw.new_array(gw.jvm.double, 0), empty)
    out = {"executor_cpu_s": 0.0, "executor_run_s": 0.0, "tasks": 0.0, "shuffle_write_bytes": 0.0, "gc_s": 0.0}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        out["executor_cpu_s"] += s.executorCpuTime() / 1e9
        out["executor_run_s"] += s.executorRunTime() / 1e3
        out["tasks"] += s.numCompleteTasks()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["gc_s"] += s.jvmGcTime() / 1e3
    return out


def dir_stats(path: str, include=lambda rel: True) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's bookkeeping files
    (``_SUCCESS``, ``_format``, ``.crc``) are not data."""
    files = size = 0
    for root, _, names in os.walk(path):
        rel = os.path.relpath(root, path)
        if not include(rel):
            continue
        for n in names:
            if n.startswith(("_", ".")) or n.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
