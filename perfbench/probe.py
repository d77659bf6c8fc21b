"""Measurement helpers: process memory and CPU from ``/proc``, request-scoped
spans, and the per-layer harvest of a traced request.

Everything here observes the program from the benchmark's side: it times
the calls the benchmark makes into each layer, reads Spark's status store
(no UI) and Structured Streaming progress, and reads ``/proc`` for the
driver, the JVM and the Python workers. No hook is installed inside the
program.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_CLK = os.sysconf("SC_CLK_TCK")
_KB_TO_MIB = 1.0 / 1024  # VmRSS is in kB


# -- /proc -------------------------------------------------------------------

def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from 'state' on


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_mb(pid: int) -> float:
    raw = _read(f"/proc/{pid}/status")
    m = re.search(r"^VmRSS:\s+(\d+)", raw or "", re.M)
    return int(m.group(1)) * _KB_TO_MIB if m else 0.0


def cpu_s(pid: int, children: bool = False) -> float:
    """User+system CPU seconds; with ``children`` also reaped children's."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])  # utime, stime
    if children:
        ticks += int(f[13]) + int(f[14])  # cutime, cstime
    return ticks / _CLK


def read_bytes(pid: int) -> int:
    """Bytes the process read through read(2)-family calls (``rchar``)."""
    m = re.search(r"^rchar:\s+(\d+)", _read(f"/proc/{pid}/io") or "", re.M)
    return int(m.group(1)) if m else 0


def cpu_times() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from /proc/stat."""
    return [int(x) for x in (_read("/proc/stat") or "cpu 0 0 0 1").split("\n")[0].split()[1:]]


def busy_share(a: list[int], b: list[int]) -> float:
    """Share of CPU time between two ``cpu_times`` that was not idle."""
    d = [y - x for x, y in zip(a, b)]
    return 1.0 - (d[3] + (d[4] if len(d) > 4 else 0)) / max(sum(d), 1)


def steal_share(a: list[int], b: list[int]) -> float:
    """Share of CPU time between two ``cpu_times`` that the hypervisor gave
    to other guests while this one had work."""
    d = [y - x for x, y in zip(a, b)]
    return (d[7] if len(d) > 7 else 0) / max(sum(d), 1)


def host_busy(interval: float = 0.5) -> float:
    """Share of the machine's CPU time that was busy over ``interval``."""
    a = cpu_times()
    time.sleep(interval)
    return busy_share(a, cpu_times())


class Processes:
    """The driver (this process), the JVM, and the JVM's Python workers."""

    def __init__(self, jvm_pid: int):
        self.driver = os.getpid()
        self.jvm = jvm_pid

    def workers(self) -> list[int]:
        # Python processes only: the JVM also forks short-lived helpers
        # (file-system shell commands) whose RSS is the JVM's own pages
        return [p for p in descendants(self.jvm)
                if (_read(f"/proc/{p}/comm") or "").startswith("python")]

    def worker_cpu_s(self) -> float:
        # the worker daemon's reaped children count through its cutime
        return sum(cpu_s(p, children=True) for p in self.workers())

    def worker_read_bytes(self) -> int:
        return sum(read_bytes(p) for p in self.workers())

    def rss(self) -> dict[str, float]:
        return {"driver_py": rss_mb(self.driver), "jvm": rss_mb(self.jvm),
                "pyworker": sum(rss_mb(p) for p in self.workers())}


class RssSampler:
    """Background sampler of summed RSS; keeps peaks while ``active``."""

    def __init__(self, procs: Processes, interval: float = 0.1):
        self.procs, self.interval = procs, interval
        self.active = False
        self.peak = {"total": 0.0, "driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
        self.window_pyworker = 0.0  # peak worker RSS since the last reset
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        if not self.active:
            return
        r = self.procs.rss()
        r["total"] = r["driver_py"] + r["jvm"] + r["pyworker"]
        for k, v in r.items():
            self.peak[k] = max(self.peak[k], v)
        self.window_pyworker = max(self.window_pyworker, r["pyworker"])

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()


# -- spans ---------------------------------------------------------------------

class Spans:
    """Request-scoped spans (name, start, end, parent), kept in memory and
    written out with the run's artifact."""

    def __init__(self):
        self.spans: list[dict] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, req: int, name: str, parent: str | None = None):
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"req": req, "name": name, "parent": parent,
                               "start": start - self.t0,
                               "end": time.perf_counter() - self.t0})

    def add(self, req: int, name: str, parent: str | None, duration: float) -> None:
        """A span measured by the program itself (e.g. a streaming trigger)."""
        self.spans.append({"req": req, "name": name, "parent": parent,
                           "start": None, "end": None, "duration": duration})

    def self_times(self) -> dict[str, float]:
        """Mean self time per request for each span name: its duration
        minus the part its child spans cover."""
        dur: dict[tuple[int, str], float] = {}
        child: dict[tuple[int, str], float] = {}
        for s in self.spans:
            d = s.get("duration", None)
            d = d if d is not None else s["end"] - s["start"]
            dur[(s["req"], s["name"])] = dur.get((s["req"], s["name"]), 0.0) + d
            if s["parent"]:
                key = (s["req"], s["parent"])
                child[key] = child.get(key, 0.0) + d
        per: dict[str, list[float]] = {}
        for (req, name), d in dur.items():
            per.setdefault(name, []).append(d - child.get((req, name), 0.0))
        return {k: statistics.fmean(v) for k, v in per.items()}


# -- Spark: plan shape, status store, streaming progress -----------------------

_EXCHANGE = re.compile(r"\b(?:\w*Exchange)\b")
_NODE_PREFIX = re.compile(r"^[\s:+\-]*")


def plan_shape(jplan) -> tuple[int, int]:
    """(physical plan nodes, exchanges) from the plan's tree string."""
    nodes = exchanges = 0
    for line in jplan.treeString().splitlines():
        body = _NODE_PREFIX.sub("", line)
        if not body:
            continue
        nodes += 1
        head = body.split(" ", 1)[0]
        if _EXCHANGE.fullmatch(head):
            exchanges += 1
    return nodes, exchanges


_STAGE_FIELDS = {
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
}


def job_metrics(sc, group: str, timeout: float = 10.0) -> dict[str, float]:
    """Jobs, stages, tasks and task metrics of one job group, read from the
    application status store once the listener has caught up."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "spill_bytes": 0,
           **{k: 0.0 for k in _STAGE_FIELDS}}
    deadline = time.monotonic() + timeout
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        settled = all(j is not None and j.status in ("SUCCEEDED", "FAILED") for j in jobs)
        stage_data = []
        if settled:
            for j in jobs:
                for sid in j.stageIds:
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # never-submitted stage: skipped by reuse
                        continue
                    stage_data.append(sd)
            settled = all(str(sd.status()) in ("COMPLETE", "FAILED", "SKIPPED")
                          for sd in stage_data)
        if settled or time.monotonic() > deadline:
            break
        time.sleep(0.01)
    out["jobs"] = len(jobs)
    for sd in stage_data:
        if str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        for k, (getter, scale) in _STAGE_FIELDS.items():
            out[k] += getattr(sd, getter)() * scale
    return out


def storage(sc) -> tuple[int, int]:
    """(persisted RDDs, bytes they hold in memory and on disk)."""
    jsc = sc._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return jsc.getPersistentRDDs().size(), sum(i.memSize() + i.diskSize() for i in infos)


def progress_since(queries, last: dict) -> list:
    """New Structured Streaming progress entries of ``queries`` since the
    batch ids in ``last`` (updated in place)."""
    out = []
    for q in queries:
        seen = last.get(q.id, -1)
        for p in q.recentProgress:
            bid = p["batchId"] if isinstance(p, dict) else p.batchId
            if bid > seen:
                out.append(p)
                last[q.id] = max(last.get(q.id, -1), bid)
    return out


def _get(p, key, default=None):
    if isinstance(p, dict):
        return p.get(key, default)
    return getattr(p, key, default)


def progress_totals(progress: list) -> dict[str, float]:
    """Trigger count and summed durations of progress entries, plus the
    state store size of the latest entry."""
    out = {"triggers": len(progress), "trigger_s": 0.0, "add_batch_s": 0.0,
           "planning_s": 0.0, "wal_s": 0.0, "state_rows": 0.0, "state_bytes": 0.0}
    for p in progress:
        d = _get(p, "durationMs") or {}
        out["trigger_s"] += d.get("triggerExecution", 0) / 1e3
        out["add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["wal_s"] += d.get("walCommit", 0) / 1e3
    if progress:
        ops = _get(progress[-1], "stateOperators") or []
        out["state_rows"] = float(sum(_get(o, "numRowsTotal", 0) for o in ops))
        out["state_bytes"] = float(sum(_get(o, "memoryUsedBytes", 0) for o in ops))
    return out
