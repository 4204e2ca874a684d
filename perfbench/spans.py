"""Measurement instruments: spans, Spark status-store sums, peak RSS.

Everything here reads in-process state only: spans live in a list until
the run writes them out, stage metrics come from the driver's
``AppStatusStore`` (no REST call, works with the UI disabled), and RSS
comes from ``/proc``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(walls: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples) of the highest percentile with at
    least ten samples beyond it; with ten or fewer samples no percentile
    has, and the maximum (p100) is reported."""
    s = sorted(walls)
    k = len(s) - 10
    if k < 1:
        return s[-1], 100.0, len(s)
    return s[k - 1], 100.0 * k / len(s), len(s)


# Stage-metric keys summed per job group, with the StageData getter and
# the scale that turns it into the reported unit.
STAGE_METRICS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


class StatusStore:
    """Sums stage metrics of the jobs tagged with one job group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    def _jobs(self, group: str) -> list:
        jobs = self._jsc.statusStore().jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                out.append(j)
        return out

    def group_jobs(self, group: str) -> tuple[int, float]:
        """(job count, summed job wall seconds) for a job group."""
        self._drain()
        n, wall = 0, 0.0
        for j in self._jobs(group):
            n += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                wall += (done.get().getTime() - sub.get().getTime()) / 1e3
        return n, wall

    def group_stages(self, group: str) -> dict[str, float]:
        """Stage metrics summed over every stage the group's jobs ran
        (skipped stages, whose work belongs to an earlier job, excluded)."""
        self._drain()
        store = self._jsc.statusStore()
        seen: set[int] = set()
        tot = dict.fromkeys(STAGE_METRICS, 0.0)
        for j in self._jobs(group):
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = int(ids.apply(k))
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                for key, (getter, scale) in STAGE_METRICS.items():
                    tot[key] += float(getattr(st, getter)()) * scale
        return tot


class Tracer:
    """In-memory spans: name, start, end, parent and run id. A span may
    tag its Spark jobs with a job group so stage metrics can be summed
    for it afterwards. A disabled tracer still times each span but
    records nothing and tags no jobs."""

    def __init__(self, run_id: str, store: StatusStore | None = None,
                 enabled: bool = True):
        self.run_id = run_id
        self.store = store
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            rec = {"name": name}
            rec["start"] = time.perf_counter()
            try:
                yield rec
            finally:
                rec["end"] = time.perf_counter()
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run": self.run_id, "group": group}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if group and self.store:
            self.store.set_group(group)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group and self.store:
                outer = next((self.spans[i]["group"]
                              for i in reversed(self._stack)
                              if self.spans[i]["group"]), None)
                self.store.set_group(outer)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover
        (children of one span never overlap: calls are sequential)."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def dump(self) -> list[dict]:
        selfs = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [{"id": s["id"], "name": s["name"], "parent": s["parent"],
                 "run": s["run"], "start": round(s["start"] - t0, 6),
                 "end": round(s["end"] - t0, 6),
                 "self_s": round(selfs[s["id"]], 6)} for s in self.spans]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran something else on this guest's
    vCPUs: the host noise a run's walls carry."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def steal_frac(start: tuple[int, int]) -> float:
    steal, total = cpu_ticks()
    return (steal - start[0]) / max(1, total - start[1])


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak RSS of this process plus its descendants: each process's own
    high-water mark (VmHWM), polled until it exits, summed over all
    processes seen."""

    def __init__(self, interval: float = 0.2):
        self._interval = interval
        self._peak_kb: dict[int, int] = {}
        self._excluded: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def exclude(self, pid: int) -> None:
        """Leave a child's process tree out (set before it forks)."""
        self._excluded.add(pid)
        self._peak_kb.pop(pid, None)

    def _sample(self) -> None:
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self._excluded:
                continue
            kb = _hwm_kb(pid)
            if kb > self._peak_kb.get(pid, 0):
                self._peak_kb[pid] = kb
            todo.extend(_children(pid))

    def _poll(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def mb(self) -> float:
        """Read after the sampler has stopped."""
        return sum(self._peak_kb.values()) / 1024.0
