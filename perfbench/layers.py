"""Probes that read each layer of the engine from outside it.

Nothing here reaches into ``garmin_performance_analysis_spark``: the
processes are read through ``/proc``, the JVM through its management
beans over py4j, execution through Spark's status tracker (job groups
set by the benchmark), streaming through a ``StreamingQueryListener``,
and persisted RDDs through the Java context.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")
_MB = 1024.0 * 1024.0
STREAM_DURATIONS = ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
                    "commitOffsets", "latestOffset")


# ---------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def _cpu_s(pid: int, reaped: bool = False) -> float:
    """utime + stime of ``pid`` (plus its reaped children's when asked)."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])  # utime, stime
    if reaped:
        ticks += int(f[13]) + int(f[14])  # cutime, cstime
    return ticks / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``, from the ppid field of every process."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def read_steal() -> tuple[int, int]:
    """``(steal, total)`` jiffies from the first line of ``/proc/stat``."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])
    except (OSError, ValueError):
        return 0, 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(1, after[1] - before[1])


class ProcessTree:
    """The driver (this process), the JVM it launched, and the Python
    workers below the JVM (the ``pyspark.daemon`` tree)."""

    def __init__(self, jvm_pid: int) -> None:
        self.driver = os.getpid()
        self.jvm = jvm_pid

    def workers(self) -> list[int]:
        return descendants(self.jvm)

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far.  A worker's CPU counts after it exits too,
        through its parent's reaped-children fields."""
        return {
            "driver": _cpu_s(self.driver),
            "jvm": _cpu_s(self.jvm),
            "pyworker": sum(_cpu_s(p, reaped=True) for p in self.workers()),
        }

    def peak_rss_mb(self) -> dict[str, float]:
        """Kernel high-water marks (VmHWM) per process kind, in MB."""
        return {
            "driver": _status_kb(self.driver, "VmHWM") / 1024.0,
            "jvm": _status_kb(self.jvm, "VmHWM") / 1024.0,
            "pyworker": sum(_status_kb(p, "VmHWM") for p in self.workers()) / 1024.0,
        }

    def io_mb(self) -> dict[str, float]:
        """Storage bytes the JVM has read and written, from /proc/<pid>/io."""
        out = {"read": 0.0, "write": 0.0}
        try:
            with open(f"/proc/{self.jvm}/io") as f:
                for line in f:
                    key, _, val = line.partition(":")
                    if key in ("read_bytes", "write_bytes"):
                        out[key.split("_")[0]] = int(val) / _MB
        except OSError:
            pass
        return out


# ---------------------------------------------------------------- JVM


class JvmMemory:
    """GC time and heap peak from ``java.lang.management``."""

    def __init__(self, jvm) -> None:
        mf = jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap = [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]

    def gc_s(self) -> float:
        return sum(max(0, g.getCollectionTime()) for g in self._gcs) / 1000.0

    def reset_peak(self) -> None:
        for p in self._heap:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap) / _MB


# ---------------------------------------------------------------- Spark


class JobCounter:
    """Jobs, stages and tasks of a job group, from the status tracker."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._tracker = sc.statusTracker()

    def enter(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def leave(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def counts(self, group: str) -> dict[str, int]:
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for job_id in self._tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = self._tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = self._tracker.getStageInfo(stage_id)
                if stage is not None:
                    out["stages"] += 1
                    out["tasks"] += stage.numTasks
                    out["failed_tasks"] += stage.numFailedTasks
        return out


class LeakTracker:
    """Persisted RDDs that an op leaves behind.

    The RDDs persisted when :meth:`mark` is called (the end of warm-up)
    are session state, such as the index an entry memoizes for later
    calls, and are never touched.  :meth:`sweep` counts every other
    persisted RDD as leaked and unpersists only those.
    """

    def __init__(self, sc) -> None:
        self._jsc = sc._jsc
        self.session_state: set[int] | None = None

    def _persisted(self):
        return self._jsc.getPersistentRDDs()

    def mark(self) -> None:
        self.session_state = set(self._persisted().keys())

    def sweep(self) -> int:
        """Unpersist and count the leaked RDDs; nothing before :meth:`mark`."""
        if self.session_state is None:
            return 0
        persisted = self._persisted()
        leaked = [rid for rid in persisted.keys() if rid not in self.session_state]
        for rid in leaked:
            persisted[rid].unpersist(False)
        return len(leaked)


def flush_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every queued event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class StreamProgress(StreamingQueryListener):
    """Collects ``QueryProgressEvent``s; :meth:`drain` hands them over."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        record = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "duration_ms": dict(p.durationMs or {}),
            "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
            "state_mem_bytes": sum(op.memoryUsedBytes for op in p.stateOperators),
        }
        with self._lock:
            self._events.append(record)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self) -> list[dict]:
        with self._lock:
            events, self._events = self._events, []
        return events


def aggregate_progress(events: list[dict]) -> dict[str, float]:
    """The ``stream.*`` counters of one op from its progress events.

    Durations are summed over micro-batches; state size is the largest
    any batch reported, per query run, summed over runs.
    """
    out = {"stream.batches": float(len(events))}
    for key in STREAM_DURATIONS:
        name = "trigger" if key == "triggerExecution" else key
        out[f"stream.{name}_ms"] = float(sum(e["duration_ms"].get(key, 0) for e in events))
    rows: dict[str, int] = {}
    mem: dict[str, int] = {}
    for e in events:
        rows[e["run_id"]] = max(rows.get(e["run_id"], 0), e["state_rows"])
        mem[e["run_id"]] = max(mem.get(e["run_id"], 0), e["state_mem_bytes"])
    out["stream.state_rows"] = float(sum(rows.values()))
    out["stream.state_mem_mb"] = sum(mem.values()) / _MB
    return out
