"""Spans, Spark job counts and process-tree CPU for the traced run.

Spans are recorded from the benchmark's side: ``Tracer.wrap`` replaces
a public function of a program layer with a wrapper that opens a span
around each call, and ``Tracer.restore`` puts the originals back. Spans
stay in memory and are written out once, at the end of the run.

A span's self time is its duration minus the time its child spans
cover. Children of one span run one after another on the caller's
thread, so the self times of one operation's spans add up to the
operation's wall time.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.op: int | None = None
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        c0 = self.clock()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, 0.0, 0.0, parent, self.op)
        self.spans.append(s)
        self._stack.append(idx)
        s.start = self.clock()
        self.overhead_s += s.start - c0
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            self.overhead_s += self.clock() - s.end

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of ``owner.attr``."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def self_times(self) -> list[float]:
        """Self time of every span, indexed like ``spans``."""
        out = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.end - s.start
        return out

    def self_by_name(self) -> dict[str, float]:
        totals: dict[str, float] = defaultdict(float)
        for s, t in zip(self.spans, self.self_times()):
            totals[s.name] += t
        return dict(totals)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def dump(self, path: str, extra: dict | None = None) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [dict(asdict(s), self_s=t) for s, t in zip(self.spans, selfs)],
                    "self_s_by_layer": self.self_by_name(),
                    **(extra or {}),
                },
                f,
            )


class JobCounter:
    """Jobs, stages and tasks per operation from ``statusTracker()``.

    Each operation runs under its own job group. Jobs that Spark starts
    from threads the group does not reach show up with no group, so they
    are counted by their difference against the previous operation."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._ungrouped = set(self.tracker.getJobIdsForGroup(None))

    def start(self, op: int) -> str:
        group = f"perfbench-op-{op}"
        self.sc.setJobGroup(group, group)
        return group

    def finish(self, group: str) -> dict[str, int]:
        self.sc.setJobGroup("perfbench-untimed", "between operations")
        ungrouped = set(self.tracker.getJobIdsForGroup(None))
        jobs = set(self.tracker.getJobIdsForGroup(group)) | (ungrouped - self._ungrouped)
        self._ungrouped = ungrouped
        stages = tasks = failed = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is None:  # skipped: its shuffle output was reused
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


# ----------------------------------------------------------------------
# Process tree: this driver, its JVM, and the JVM's Python workers.
# ----------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[str, int, list[int]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    lp, rp = raw.find("("), raw.rfind(")")
    fields = raw[rp + 2:].split()
    # after the comm: state, ppid, ..., utime stime cutime cstime at 11..14
    return raw[lp + 1:rp], int(fields[1]), [int(x) for x in fields[11:15]]


def _table() -> dict[int, tuple[str, int, list[int]]]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(d)
            if st:
                out[int(d)] = st
    return out


def descendants(root: int, table=None) -> list[int]:
    table = table if table is not None else _table()
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (_, ppid, _) in table.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def jvm_pid(root: int | None = None) -> int | None:
    table = _table()
    for pid in descendants(root or os.getpid(), table):
        if table[pid][0] == "java":
            return pid
    return None


def tree_cpu() -> dict[str, float]:
    """CPU seconds so far of the driver, the JVM and the JVM's Python
    workers. Workers that exited were reaped by their parent and count
    in its children's time, which is read too."""
    table = _table()
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    if me in table:
        u, s, _, _ = table[me][2]
        out["driver"] = (u + s) / _TICK
    for pid in descendants(me, table):
        comm, _, (u, s, cu, cs) = table[pid]
        if comm == "java":
            out["jvm"] += (u + s) / _TICK
            out["pyworker"] += (cu + cs) / _TICK
        elif pid != me:
            out["pyworker"] += (u + s + cu + cs) / _TICK
    return out


def vm_hwm_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
