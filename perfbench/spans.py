"""Spans and Spark job accounting, kept in memory for one run.

A span is ``(name, start, end, parent, op)``: wall-clock seconds from
``time.perf_counter``, the index of the enclosing span (or ``None``)
and the id of the operation that caused it. Spans are recorded only
when tracing is on; job groups are set either way, because
``setJobGroup`` is what makes the per-operation job, stage and task
counts exact.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds, user and system, used so far by this process and
    every live descendant (the JVM and its Python workers), each with
    its reaped children. Time the host took the CPU away (steal) is
    not in it."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(c for c, p in parent.items() if p == pid)
    return total / _TICK


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int | None, str | None]] = []
        self._stack: list[int] = []
        self._groups: dict[str, list[str]] = {}

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Record ``name`` around the block when tracing is on."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, start, _, p, o = self.spans[idx]
            self.spans[idx] = (n, start, time.perf_counter(), p, o)

    def tag(self, kind: str, op: str) -> None:
        """Put the Spark jobs that follow into job group ``op``, counted
        under ``kind``."""
        self.sc.setJobGroup(op, kind)
        self._groups.setdefault(kind, []).append(op)

    def job_counts(self, kind: str) -> tuple[int, int, int, int]:
        """(operations, jobs, stages run, tasks run) over the groups
        tagged ``kind``. Stages skipped because their shuffle output was
        reused run no task and are not counted."""
        st = self.sc.statusTracker()
        ops = self._groups.get(kind, [])
        jobs = stages = tasks = 0
        for group in ops:
            for jid in st.getJobIdsForGroup(group):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    sinfo = st.getStageInfo(sid)
                    if sinfo and sinfo.numCompletedTasks:
                        stages += 1
                        tasks += sinfo.numCompletedTasks
        return len(ops), jobs, stages, tasks

    def durations(self, name: str) -> list[float]:
        return [end - start for n, start, end, _, _ in self.spans if n == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": n, "start": s, "end": e, "parent": p, "op": o}
                    for n, s, e, p, o in self.spans
                ],
                fh,
            )
