"""Outside-in counters: spans, Spark's status store, and /proc.

Nothing here reaches into the program. Spark figures come from the
status tracker and the status store (which stay populated with the UI
off); CPU and memory come from /proc for the whole process tree: this
Python process, the JVM it launched, and the JVM's Python workers.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ spans
@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str


@dataclass
class Tracer:
    """Spans kept in memory and written out at the end of a traced run;
    ``add`` is a no-op when tracing is off."""

    run_id: str
    on: bool
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def add(self, name: str, start: float, end: float, parent: str | None = None) -> None:
        if self.on:
            with self._lock:
                self.spans.append(Span(name, start, end, parent, self.run_id))


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
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


# ------------------------------------------------------------------- /proc
def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    ppid = int(rest[1])
    cpu = sum(int(v) for v in rest[11:15]) / _TICK  # utime stime cutime cstime
    return comm, ppid, cpu


def _pss_mb(pid: int) -> float:
    """Proportional resident memory: pages shared between processes (the
    PySpark daemon and the workers it forks) are split among them, so a
    sum over processes counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def process_tree(root: int | None = None) -> dict[int, tuple[str, str, float]]:
    """pid -> (kind, comm, cpu_s) for ``root`` and all its descendants.
    Kinds: ``python`` (this process), ``jvm`` (a java process), and
    ``pyworker`` (anything under the JVM: the PySpark daemon and its
    forked workers)."""
    root = root or os.getpid()
    info: dict[int, tuple[str, int, float]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (_c, ppid, _cpu) in info.items():
        kids.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[str, str, float]] = {}
    stack = [(root, "python")]
    while stack:
        pid, kind = stack.pop()
        if pid not in info:
            continue
        comm, _ppid, cpu = info[pid]
        if pid != root and kind == "python":
            kind = "jvm" if comm == "java" else "other"
        out[pid] = (kind, comm, cpu)
        child_kind = "pyworker" if kind in ("jvm", "pyworker") else "python"
        stack.extend((c, child_kind) for c in kids.get(pid, []))
    return out


def cpu_by_kind() -> dict[str, float]:
    acc: dict[str, float] = {"python": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
    for kind, _comm, cpu in process_tree().values():
        acc[kind] += cpu
    return acc


def _hwm_mb(pid: int) -> float:
    """The kernel's high-water mark of a process's resident memory."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class MemoryPeak:
    """Peak memory of the JVM and its Python workers.

    The JVM's figure is the kernel's own high-water mark of its resident
    set (``VmHWM``), read once at the end, so it costs nothing while the
    program runs; it covers the JVM's whole life, set-up included. The
    workers fork from one daemon and share its pages, so their figure is
    the highest summed PSS seen, sampled every ``period`` seconds on a
    daemon thread (a PSS read walks the page tables of the process, which
    is why the JVM is not sampled this way). ``peak["total"]`` is the sum
    of the two. The sampling is the benchmark's own work, yet it runs in
    this process, so its CPU lands in the ``python`` kind: ``cpu_s``
    reports it so that the caller can take it out."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = {"total": 0.0, "jvm": 0.0, "pyworker": 0.0}
        self._stop = threading.Event()
        self._tid: int | None = None
        self._cpu = 0.0
        self._started = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)
        self._thread.start()
        self._started.wait()

    def cpu_s(self) -> float:
        """CPU seconds the sampling thread has used so far."""
        try:
            with open(f"/proc/self/task/{self._tid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            self._cpu = (int(rest[11]) + int(rest[12])) / _TICK  # utime stime
        except OSError:  # the thread has ended; its last reading stands
            pass
        return self._cpu

    def _loop(self) -> None:
        self._tid = threading.get_native_id()
        self._started.set()
        while not self._stop.wait(self.period):
            workers = sum(_pss_mb(pid) for pid, (kind, _c, _cpu) in process_tree().items()
                          if kind == "pyworker")
            self.peak["pyworker"] = max(self.peak["pyworker"], workers)

    def close(self) -> None:
        """Stop sampling and read the JVM's high-water mark."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak["jvm"] = sum(_hwm_mb(pid) for pid, (kind, _c, _cpu) in process_tree().items()
                               if kind == "jvm")
        self.peak["total"] = self.peak["jvm"] + self.peak["pyworker"]


# ------------------------------------------------------------------ Spark
_STAGE_FIELDS = {
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "shuffle_bytes": ("shuffleWriteBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.spill_bytes": ("memoryBytesSpilled", 1),
    "spark.input_bytes": ("inputBytes", 1),
    "spark.output_bytes": ("outputBytes", 1),
}


def _seq(obj):
    """Iterate a Scala collection returned through py4j."""
    it = obj.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Jobs, stages and stage metrics of the jobs started between marks.

    A mark is the scheduler's next job id, read synchronously, so the
    jobs of a section are exactly the ids in ``[mark_before, mark_after)``
    even when the listener bus that feeds the status store lags.
    ``spark.ui.retainedJobs`` and ``retainedStages`` are raised at
    session start; if the store still lacks a job of the range, the run
    fails rather than under-count.
    """

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.dag = jsc.dagScheduler()

    def mark(self) -> int:
        return int(self.dag.nextJobId())

    def since(self, lo: int, hi: int) -> dict:
        """Totals over jobs ``lo <= id < hi``, plus ``_intervals``: the
        jobs' (submission, completion) times in epoch seconds."""
        self.bus.waitUntilEmpty()
        jobs = {int(j.jobId()): j for j in _seq(self.store.jobsList(None)) if lo <= int(j.jobId()) < hi}
        missing = [i for i in range(lo, hi) if i not in jobs]
        if missing:
            raise RuntimeError(
                f"status store dropped {len(missing)} job(s) of this run "
                f"(first {missing[:5]}); raise spark.ui.retainedJobs"
            )
        out = {k: 0.0 for k in _STAGE_FIELDS}
        out.update({"spark_jobs": float(len(jobs)), "spark.stages": 0.0, "spark.tasks": 0.0})
        intervals = []
        stage_ids: set[int] = set()
        for j in jobs.values():
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            stage_ids.update(int(s) for s in _seq(j.stageIds()))
        for sid in sorted(stage_ids):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # a skipped stage never ran and has no attempt
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += int(st.numCompleteTasks())
            for key, (attr, scale) in _STAGE_FIELDS.items():
                out[key] += float(getattr(st, attr)()) * scale
        out["_intervals"] = intervals
        return out
