"""In-memory spans around the calls into each program layer, with Spark
job/stage/task counts and JVM CPU attached, plus the process counters (CPU,
peak RSS, CPU steal) the end-to-end metrics use.

A span is (name, layer, op, parent, start, end, counters).  Spark work is
attributed through job groups: each span sets its own group on entry and
restores its parent's on exit, so a span's Spark counts are its own, not its
children's.  Jobs started from other threads (the stage materializer fans
out) carry no group; they are attributed to the innermost open span, since
one closed-loop client runs one op at a time.

The tracer's own measurements (row counts of a layer's output) run in
untimed sections: spans named ``trace.untimed`` whose wall and JVM CPU time
no enclosing span counts, and inside which no layer span opens.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


# ---------- process counters (/proc) ----------

def _stat_fields(pid: int) -> list | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list:
    """root and all its live descendants."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids, reaped: bool = True) -> float:
    """user+system CPU of the processes (and of their reaped children)."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of proc(5), 0-based after the comm: 11..14
            total += int(f[11]) + int(f[12])
            if reaped:
                total += int(f[13]) + int(f[14])
    return total / _TICK


def peak_rss_mb(pids) -> float:
    """sum of VmHWM over the processes."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def cpu_ticks() -> tuple:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple, after: tuple) -> float:
    dt = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / dt if dt > 0 else 0.0


# ---------- spans ----------

@dataclass
class Span:
    sid: int
    name: str            # "<layer>.<call>", or "op" for an op's root span
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    paused: float = 0.0        # untimed wall seconds inside the span
    paused_cpu: float = 0.0    # untimed JVM CPU seconds inside the span

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        """wall time, untimed sections excluded."""
        return self.end - self.start - self.paused


UNTIMED = "trace.untimed"


def self_times(spans) -> dict:
    """sid → span interval minus the part of it its child spans cover
    (untimed sections are child spans, so they are excluded too)."""
    kids: dict = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.sid, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = s.end - s.start - covered
    return out


def self_cpu(spans) -> dict:
    """sid → span JVM CPU seconds minus its direct children's."""
    out = {s.sid: s.counters.get("cpu_s", 0.0) for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.counters.get("cpu_s", 0.0)
    return out


class Tracer:
    """span recorder; with ``spark`` set, each span also gets the Spark
    jobs/stages/tasks it ran and the JVM CPU seconds it took."""

    def __init__(self, spark=None, jvm_pid: int | None = None):
        self.spans: list = []
        self._stack: list = []
        self._sc = spark.sparkContext if spark is not None else None
        self._jvm_pid = jvm_pid
        self._claimed: set = set()
        self._suspended = 0
        self._pending: list = []

    @property
    def suspended(self) -> bool:
        """inside an untimed section"""
        return self._suspended > 0

    @property
    def innermost(self) -> str | None:
        return self._stack[-1].name if self._stack else None

    def _ungrouped(self) -> set:
        return set(self._sc.statusTracker().getJobIdsForGroup(None))

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    def _spark_counts(self, group: str, loose: set) -> dict:
        st = self._sc.statusTracker()
        jobs = set(st.getJobIdsForGroup(group)) | loose
        stages, tasks = set(), 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                si = st.getStageInfo(sid)
                if sid not in stages and si and si.numCompletedTasks > 0:
                    stages.add(sid)
                    tasks += si.numCompletedTasks
        return {"spark_jobs": len(jobs), "spark_stages": len(stages),
                "spark_tasks": tasks}

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, op,
                 parent.sid if parent else None, 0.0)
        self.spans.append(s)
        group = f"erbench-span-{s.sid}"
        if self._sc is not None:
            loose0 = self._ungrouped()
            self._set_group(group)
        cpu0 = cpu_seconds([self._jvm_pid], False) if self._jvm_pid else 0.0
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._jvm_pid:
                s.counters["cpu_s"] = (cpu_seconds([self._jvm_pid], False)
                                       - cpu0 - s.paused_cpu)
            if self._sc is not None:
                loose = self._ungrouped() - loose0 - self._claimed
                self._claimed |= loose
                s.counters.update(self._spark_counts(group, loose))
                self._set_group(f"erbench-span-{parent.sid}" if parent else None)

    @contextmanager
    def untimed(self):
        """a section no enclosing span counts, wall or JVM CPU."""
        self._suspended += 1
        try:
            with self.span(UNTIMED) as u:
                yield u
        finally:
            self._suspended -= 1
        for s in self._stack:
            s.paused += u.end - u.start
            s.paused_cpu += u.counters.get("cpu_s", 0.0)

    def defer(self, probe, key=None) -> None:
        """run ``probe()`` at the next ``settle()`` (of ``key``, or of all)."""
        self._pending.append((key, probe))

    def settle(self, key=None) -> None:
        """run the deferred probes of ``key`` (all if None), untimed."""
        todo = [p for p in self._pending if key is None or p[0] is key]
        if not todo:
            return
        self._pending = [p for p in self._pending
                         if not any(p is q for q in todo)]
        with self.untimed():
            for _key, probe in todo:
                probe()

    def dump(self, path: str) -> None:
        import json
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "sid": s.sid, "name": s.name, "op": s.op,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "paused": s.paused, "self_s": st[s.sid],
                    **s.counters}) + "\n")


class NullTracer:
    """the tracer of an untraced run: spans record nothing."""

    suspended = False
    innermost = None

    @contextmanager
    def span(self, name: str, op: int | None = None):
        yield Span(-1, name, op, None, 0.0)
