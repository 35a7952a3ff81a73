"""Measurement probes: process CPU and memory from ``/proc``, Spark's own
per-job counters, and spans around calls into the program's modules.

Only the traced run installs spans. The ``/proc`` readers and the Spark
counters are read between ops, outside every timed interval.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import threading
import time
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")

#: Modules whose public functions get spans in the traced run; the span
#: name is the module path below the package.
TRACED_MODULES = (
    "operators.graph",
    "operators.dedup",
    "operators.similarity",
    "operators.phash",
    "operators.audiohash",
    "streaming.dedup_store",
    "streaming.ann_store",
    "streaming.media_store",
    "sources.warehouse",
    "sources.binary",
)
PACKAGE = "parcialbigdata_spark"


# --- processes -----------------------------------------------------------


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, user+sys CPU seconds including reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode(errors="replace")
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return int(fields[1]), ticks / _CLK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="utf-8") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st:
                children.setdefault(st[0], []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


@dataclass
class CpuSample:
    driver: float
    jvm: float
    workers: float

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.workers

    def __add__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(self.driver + other.driver, self.jvm + other.jvm, self.workers + other.workers)

    def __sub__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(self.driver - other.driver, self.jvm - other.jvm, self.workers - other.workers)


class Processes:
    """The driver Python, the JVM it launched and the JVM's Python
    workers, read from ``/proc``."""

    def __init__(self, jvm_pid: int):
        self.driver = os.getpid()
        self.jvm = jvm_pid

    def cpu(self) -> CpuSample:
        jvm = _stat(self.jvm)
        workers = 0.0
        for pid in descendants(self.jvm):
            st = _stat(pid)
            if st and _comm(pid).startswith("python"):
                workers += st[1]
        # The JVM's reaped-children time includes exited workers; the
        # daemon that forks them is a live descendant and reaps them.
        return CpuSample(_stat(self.driver)[1], jvm[1] if jvm else 0.0, workers)

    def peak_rss_mb(self) -> float:
        return _hwm_mb(self.jvm) + _hwm_mb(self.driver)


# --- Spark counters ------------------------------------------------------

#: name → unit of each counter ``SparkCounters.take`` returns.
SPARK_COUNTERS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.skipped_tasks": "count", "spark.failed_tasks": "count",
    "spark.input_mb": "MB", "spark.output_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
}


class SparkCounters:
    """Per-op totals from the status tracker and the status store.

    Ops run one at a time, so the jobs of an op are exactly the job ids
    issued between two reads; this also catches jobs that streaming
    micro-batches start on their own threads."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._jvm = self._sc._jvm
        self._last = self._max_job_id()

    def _max_job_id(self) -> int:
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def take(self) -> dict[str, float]:
        """Totals over the jobs started since the previous call."""
        last, self._last = self._last, self._max_job_id()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        stages = set()
        for jid in range(last + 1, self._last + 1):
            try:
                job = self._store.job(jid)
            except Exception:  # noqa: BLE001 — job evicted from the store
                continue
            out["spark.jobs"] += 1
            out["spark.skipped_tasks"] += job.numSkippedTasks()
            stage_ids = job.stageIds()
            stages.update(stage_ids.apply(i) for i in range(stage_ids.size()))
        mb = 1024 * 1024
        for sid in stages:
            try:
                s = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stage: no attempt ran
                continue
            if str(s.status()) == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["spark.failed_tasks"] += s.numFailedTasks()
            out["spark.input_mb"] += s.inputBytes() / mb
            out["spark.output_mb"] += s.outputBytes() / mb
            out["spark.shuffle_read_mb"] += s.shuffleReadBytes() / mb
            out["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / mb
            out["spark.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / mb
            out["spark.executor_run_s"] += s.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["spark.gc_s"] += s.jvmGcTime() / 1e3
        return out


# --- spans ---------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children_s: float = 0.0


@dataclass
class Tracer:
    """In-memory spans with parent links; one open-span stack per thread
    (streaming ``foreachBatch`` bodies run on their own thread)."""

    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> int:
        stack = self._stack()
        with self._lock:
            self.spans.append(Span(name, time.perf_counter(), parent=stack[-1] if stack else None))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int) -> float:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack().pop()
        dur = span.end - span.start
        if span.parent is not None:
            with self._lock:
                self.spans[span.parent].children_s += dur
        return dur

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.idx = tracer.open(name)
                return self

            def __exit__(self, *exc):
                self.seconds = tracer.close(self.idx)
                return False

        return _Ctx()

    def wrap_modules(self, modules=TRACED_MODULES) -> None:
        """Put a span around every public function of ``modules``, in the
        module and wherever another package module imported it by name.
        A wrapper keeps the original's name and module, so pickling a
        UDF that refers to it still resolves to the plain function in a
        worker."""
        originals = {}
        for short in modules:
            mod = importlib.import_module(f"{PACKAGE}.{short}")
            for name, fn in list(vars(mod).items()):
                if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                    continue
                originals[id(fn)] = (fn, self._wrapper(short, fn))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for name, value in list(vars(mod).items()):
                hit = originals.get(id(value))
                if hit and hit[0] is value:
                    setattr(mod, name, hit[1])
                    self._patched.append((mod, name, value))

    def unwrap_modules(self) -> None:
        for mod, name, value in reversed(self._patched):
            setattr(mod, name, value)
        self._patched.clear()

    def _wrapper(self, short: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.open(short)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(idx)

        return traced

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
            for s in self.spans
        ]


def self_time(spans: list[Span]) -> dict[str, tuple[float, int]]:
    """name → (self seconds, calls): each span's duration minus the time
    its child spans cover."""
    out: dict[str, tuple[float, int]] = {}
    for s in spans:
        prev = out.get(s.name, (0.0, 0))
        out[s.name] = (prev[0] + (s.end - s.start) - s.children_s, prev[1] + 1)
    return out
