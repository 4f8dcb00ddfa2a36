"""In-memory span tracer, Spark job counters, memory and host probes.

Spans are recorded from the benchmark's side of each layer boundary: the
benchmark times its own calls into the package's public functions (and,
during a traced pass, wraps a few module-level functions it cannot call
directly). Each span has a name, start, end, parent span and the id of the
operation it belongs to. Spans stay in memory and are written out once, as
JSON lines, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer's ``span`` is a
    no-op context, so the untraced timed loop pays almost nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None

    @contextlib.contextmanager
    def op(self, op_uid: str):
        """Root span of one operation execution; nested spans share its id."""
        self._op = op_uid
        try:
            with self.span("op"):
                yield
        finally:
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "op": self._op,
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per operation execution: span name -> summed self time (duration
        minus the time covered by its direct children)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                d = s["end"] - s["start"]
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + d
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s["end"] is None or s["op"] is None:
                continue
            own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
            per_op = out.setdefault(s["op"], {})
            per_op[s["name"]] = per_op.get(s["name"], 0.0) + own
        return out

    def durations(self, name: str) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class SparkCounters:
    """Job/stage/task counts per job group, read from the SparkContext's
    status tracker after the listener bus has drained."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def drain(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # not reachable on this build: give the bus time
            time.sleep(1.0)

    def counts(self, group: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            jobs += 1
            for stage_id in info.stageIds:
                st = tracker.getStageInfo(stage_id)
                if st is None:  # skipped (reused shuffle output)
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed": failed}


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = stat[stat.rfind(")") + 2 :].split()
        parent[int(entry)] = int(fields[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_rss_mb() -> float:
    """Summed resident memory of every live process this one started: the
    Spark JVM and its Python workers."""
    return sum(_status_kb(p, "VmRSS") for p in _descendants(os.getpid())) / 1024.0


def child_pids() -> list[int]:
    return _descendants(os.getpid())


def cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of ``/proc/stat``: user, nice, system, idle,
    iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: a host busy with other tenants slows every
    timing in the run."""
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / sum(d), 3) if sum(d) else 0.0


def loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


#: name prefixes (``comm``, cut to 15 characters) of the JVM's own service
#: threads: its JIT compilers, garbage collector and VM housekeeping. They
#: run in the background, and how much of their work lands in a given
#: interval depends on timing; everything else runs the operations.
JVM_SERVICE_THREADS = {
    "jit": ("C1 CompilerThre", "C2 CompilerThre"),
    "gc": ("GC Thread", "G1 ", "VM Thread"),
    "vm": ("VM Periodic Tas", "Sweeper thread", "Service Thread",
           "Monitor Deflati", "Signal Dispatch", "Reference Handl", "Finalizer",
           "Common-Cleaner", "Notification Th"),
}


def _thread_kind(comm: str) -> str:
    for kind, prefixes in JVM_SERVICE_THREADS.items():
        if comm.startswith(prefixes):
            return kind
    return "op"


class CpuClock:
    """CPU time of this process and of every thread of the processes it
    started (the Spark JVM, Python workers), split by thread kind (``op`` or
    one of ``JVM_SERVICE_THREADS``). Thread times come from
    ``/proc/<pid>/task/<tid>/schedstat``, in nanoseconds on a CPU, which
    leaves out time the hypervisor gave to other guests. A thread or process
    that starts between two readings counts from its start; one that ends
    between them loses its time since the first."""

    def __init__(self) -> None:
        self.kind: dict[tuple[int, str], str] = {}

    def _threads(self) -> dict[tuple[int, str], int]:
        out = {}
        for pid in child_pids():
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                key = (pid, tid)
                try:
                    if key not in self.kind:
                        with open(f"/proc/{pid}/task/{tid}/comm") as f:
                            self.kind[key] = _thread_kind(f.read().rstrip("\n"))
                    with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                        out[key] = int(f.read().split()[0])
                except OSError:
                    continue
        return out

    def start(self):
        """A reading to pass to ``since``; this call's own work is not in it."""
        threads = self._threads()
        return threads, time.process_time_ns()

    def since(self, mark) -> dict[str, float]:
        """Seconds of CPU per thread kind since ``mark``; this process counts
        as ``op``."""
        own = time.process_time_ns() - mark[1]
        before = mark[0]
        out = {"op": own / 1e9, "jit": 0.0, "gc": 0.0, "vm": 0.0}
        for key, ns in self._threads().items():
            out[self.kind[key]] += (ns - before.get(key, 0)) / 1e9
        return out
