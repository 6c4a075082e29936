"""Spans, Spark stage metrics and process metrics for the benchmark.

Everything here observes the package from outside: spans wrap calls into
the package's public functions (``Tracer.patched``), Spark work is charged
to a span through ``SparkContext.setJobGroup``, and stage metrics are read
afterwards from Spark's in-process status store
(``sc._jsc.sc().statusStore()``), which Spark fills even with
``spark.ui.enabled=false``.  Nothing is written until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans kept in memory; each span is a Spark job group."""

    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"{self.run_id}-{next(self._ids)}",
            name=name,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            start=time.perf_counter(),
            attrs=attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.id, name, False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, name_of):
        """``fn`` with every call recorded as a span named ``name_of(args)``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self, targets):
        """Replace ``(owner, attr, name_of)`` targets by traced wrappers."""
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
        try:
            for owner, attr, name_of in targets:
                setattr(owner, attr, self.wrap(getattr(owner, attr), name_of))
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def descendants(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    def self_seconds(self, sp: Span) -> float:
        """Span time minus the time its direct children cover."""
        covered = 0.0
        cur_end = None
        for c in sorted(self.children(sp), key=lambda s: s.start):
            lo = c.start if cur_end is None else max(c.start, cur_end)
            if c.end > lo:
                covered += c.end - lo
            cur_end = c.end if cur_end is None else max(cur_end, c.end)
        return sp.seconds - covered


# -- Spark status store ------------------------------------------------------

STAGE_FIELDS = (
    "tasks", "run_ms", "cpu_ns", "gc_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "max_task_ms",
)


class StageStore:
    """Reads per-job-group stage metrics from Spark's status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._jvm = spark._jvm
        self._gw = sc._gateway
        self._seen_stages: dict[tuple[int, int], dict] = {}

    def _stage(self, stage_id: int) -> list[dict]:
        empty = self._jvm.java.util.ArrayList()
        no_q = self._gw.new_array(self._jvm.double, 0)
        max_q = self._gw.new_array(self._jvm.double, 1)
        max_q[0] = 1.0
        out = []
        attempts = self._store.stageData(stage_id, False, empty, False, no_q)
        for i in range(attempts.size()):
            s = attempts.apply(i)
            key = (stage_id, s.attemptId())
            if key not in self._seen_stages:
                summary = self._store.taskSummary(stage_id, s.attemptId(), max_q)
                self._seen_stages[key] = {
                    "tasks": s.numCompleteTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "gc_ms": s.jvmGcTime(),
                    "input_bytes": s.inputBytes(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "max_task_ms": (
                        summary.get().executorRunTime().apply(0)
                        if summary.isDefined()
                        else 0.0
                    ),
                }
            out.append(self._seen_stages[key])
        return out

    def by_group(self, groups: set[str]) -> dict[str, dict]:
        """``{group: {"jobs": n, "stages": [stage metrics, ...]}}``."""
        out = {g: {"jobs": 0, "stages": []} for g in groups}
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or group.get() not in groups:
                continue
            rec = out[group.get()]
            rec["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                rec["stages"] += self._stage(ids.apply(k))
        return out


def sum_stages(stages: list[dict]) -> dict:
    tot = {k: 0.0 for k in STAGE_FIELDS}
    for s in stages:
        for k in STAGE_FIELDS:
            if k == "max_task_ms":
                tot[k] = max(tot[k], s[k])
            else:
                tot[k] += s[k]
    return tot


# -- process metrics (Linux /proc) -------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _proc_table() -> dict[int, tuple[int, str, list[str]]]:
    """pid -> (ppid, cmdline, stat fields after the command name)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        rest = stat[stat.rfind(")") + 2 :].split()
        out[int(d)] = (int(rest[1]), cmd, rest)
    return out


def _descendants(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, jvm: int, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM and wait until it and every process
    it started (the Python daemon and workers) have exited."""
    children = _descendants(_proc_table(), jvm)
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while any(_running(p) for p in children + [jvm]):
        if time.monotonic() > deadline:
            raise TimeoutError(f"Spark processes still running: {children + [jvm]}")
        time.sleep(0.1)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(jvm: int) -> tuple[float, float]:
    """Peak RSS (MB) of the JVM and of the largest Python worker."""
    table = _proc_table()
    workers = [p for p in _descendants(table, jvm) if "pyspark" in table[p][1]]
    largest = max((_vm_hwm_kb(p) for p in workers), default=0)
    return _vm_hwm_kb(jvm) / 1024.0, largest / 1024.0


class PyWorkerCpu:
    """CPU seconds used by the ``pyspark.daemon`` process tree while the
    context is open.  Workers can exit without their time reaching the
    daemon's child totals, so each process is sampled every ``interval``
    seconds and its last sample kept; CPU a worker spends after its last
    sample is lost."""

    def __init__(self, jvm: int, interval: float = 0.2) -> None:
        self.jvm = jvm
        self.interval = interval
        self.first: dict[int, int] = {}
        self.last: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _sample(self, baseline: bool = False) -> None:
        table = _proc_table()
        for p in _descendants(table, self.jvm):
            _, cmd, rest = table[p]
            if "pyspark" in cmd:
                ticks = int(rest[11]) + int(rest[12])  # utime + stime
                self.first.setdefault(p, ticks if baseline else 0)
                self.last[p] = ticks

    def _poll(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PyWorkerCpu":
        self._sample(baseline=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def seconds(self) -> float:
        return sum(self.last[p] - self.first[p] for p in self.last) / _CLK_TCK
