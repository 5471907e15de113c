"""Spans, per-process CPU from /proc, and Spark event-log attribution.

Everything here observes the pipeline from outside: spans are opened
around the benchmark's own calls into each layer, CPU is read from
``/proc`` for the Spark JVM and the pyspark Python-worker tree it
forks, and Spark jobs/stages/tasks are attributed to the span whose
time window contains the job's submission.  The last works because
the benchmark calls the layers one after another; job groups would
not, because they are thread-local and the crawl engine submits
writes from its own thread pool.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: str | None = None
    cpu0: tuple[float, float] = (0.0, 0.0)  # (jvm, python workers) at start
    cpu1: tuple[float, float] = (0.0, 0.0)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def _children(ppid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat_fields(int(name))
        if st is not None and int(st[1]) == ppid:
            out.append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


class ProcCpu:
    """CPU seconds of the Spark JVM and of its Python worker tree.

    The JVM's own utime+stime covers every JVM thread (task threads,
    GC, JIT).  The Python side is the pyspark daemon and its forked
    workers: their utime+stime while alive, plus cutime+cstime for
    workers already reaped (by the daemon, or by the JVM for the
    daemon itself).  Spark's Executor CPU Time leaves all of the
    Python side out, which is why it is read here."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def sample(self) -> tuple[float, float]:
        st = _stat_fields(self.jvm_pid)
        if st is None:
            return (0.0, 0.0)
        jvm = (int(st[11]) + int(st[12])) / _CLK_TCK
        py = (int(st[13]) + int(st[14])) / _CLK_TCK
        for pid in descendants(self.jvm_pid):
            s = _stat_fields(pid)
            if s is not None:
                py += sum(int(x) for x in s[11:15]) / _CLK_TCK
        return (jvm, py)

    def total(self) -> float:
        """CPU seconds of the JVM, its Python workers and this Python
        process together."""
        t = os.times()
        return sum(self.sample()) + t.user + t.system

    def pss_mb(self) -> float:
        """PSS of the JVM, its Python workers and this Python process;
        PSS splits shared pages, so forked workers are not counted
        twice the way RSS would count them."""
        total_kb = 0
        for pid in [self.jvm_pid, os.getpid(), *descendants(self.jvm_pid)]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                pass
        return total_kb / 1024.0


class Tracer:
    """Records spans around layer calls.  With ``cpu`` set, each span
    also records the JVM and Python-worker CPU at its boundaries and a
    background thread samples peak PSS; the time spent doing so is
    kept in ``overhead_s``."""

    def __init__(self, cpu: ProcCpu | None = None) -> None:
        self.cpu = cpu
        self.spans: list[Span] = []
        # written by one thread each, summed in overhead_s
        self._span_cost_s = 0.0
        self._pss_cost_s = 0.0
        self.peak_pss_mb = 0.0
        self._stack: list[Span] = []
        self._stop = threading.Event()
        self._sampler: threading.Thread | None = None

    def _cpu(self) -> tuple[float, float]:
        if self.cpu is None:
            return (0.0, 0.0)
        t = time.perf_counter()
        v = self.cpu.sample()
        self._span_cost_s += time.perf_counter() - t
        return v

    @property
    def overhead_s(self) -> float:
        return self._span_cost_s + self._pss_cost_s

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the block as a span; a block that raises records none."""
        span = Span(name, 0.0, parent=self._stack[-1].name if self._stack else None)
        span.cpu0 = self._cpu()
        span.start = time.time()
        self._stack.append(span)
        try:
            yield span
        finally:
            self._stack.pop()
        span.end = time.time()
        span.cpu1 = self._cpu()
        self.spans.append(span)

    def start_pss_sampler(self, interval_s: float = 2.0) -> None:
        if self.cpu is None:
            return

        def loop() -> None:
            while not self._stop.wait(interval_s):
                t = time.perf_counter()
                self.peak_pss_mb = max(self.peak_pss_mb, self.cpu.pss_mb())
                self._pss_cost_s += time.perf_counter() - t

        self._sampler = threading.Thread(target=loop, daemon=True)
        self._sampler.start()

    def stop(self) -> None:
        self._stop.set()
        if self._sampler is not None:
            self._sampler.join(timeout=10)
            self._sampler = None


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class SparkJob:
    job_id: int
    submitted: float  # epoch seconds
    stage_ids: list[int]


@dataclass
class SparkWork:
    """Event-log totals for one time window."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


@dataclass
class EventLog:
    jobs: list[SparkJob] = field(default_factory=list)
    ran_stages: set[int] = field(default_factory=set)  # completed, not skipped
    # a reused shuffle stage is listed again (skipped) by later jobs;
    # it is counted once, for the first job that lists it
    stage_owner: dict[int, int] = field(default_factory=dict)
    tasks: dict[int, list[dict]] = field(default_factory=lambda: defaultdict(list))

    @classmethod
    def read(cls, directory: str) -> "EventLog":
        log = cls()
        paths = sorted(
            os.path.join(root, name)
            for root, _, names in os.walk(directory)
            for name in names
        )
        for path in paths:
            with open(path) as f:
                for line in f:
                    # SQL execution events carry whole plans; skip them
                    # without decoding
                    if '"SparkListenerJobStart"' in line[:40]:
                        e = json.loads(line)
                        log.jobs.append(
                            SparkJob(
                                e["Job ID"],
                                e["Submission Time"] / 1000.0,
                                list(e["Stage IDs"]),
                            )
                        )
                    elif '"SparkListenerStageCompleted"' in line[:40]:
                        e = json.loads(line)
                        log.ran_stages.add(e["Stage Info"]["Stage ID"])
                    elif '"SparkListenerTaskEnd"' in line[:40]:
                        e = json.loads(line)
                        m = e.get("Task Metrics") or {}
                        sw = m.get("Shuffle Write Metrics") or {}
                        log.tasks[e["Stage ID"]].append(
                            {
                                "run_ms": m.get("Executor Run Time", 0),
                                "gc_ms": m.get("JVM GC Time", 0),
                                "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                                "spill_b": m.get("Disk Bytes Spilled", 0),
                            }
                        )
        for job in sorted(log.jobs, key=lambda j: j.job_id):
            for sid in job.stage_ids:
                log.stage_owner.setdefault(sid, job.job_id)
        return log

    def work(self, start: float, end: float) -> SparkWork:
        """Totals over the jobs submitted in ``[start, end)``."""
        w = SparkWork()
        for job in self.jobs:
            if not start <= job.submitted < end:
                continue
            w.jobs += 1
            for sid in job.stage_ids:
                if sid not in self.ran_stages or self.stage_owner[sid] != job.job_id:
                    continue
                w.stages += 1
                for t in self.tasks.get(sid, ()):
                    w.tasks += 1
                    w.task_run_s += t["run_ms"] / 1000.0
                    w.gc_s += t["gc_ms"] / 1000.0
                    w.shuffle_write_mb += t["shuffle_b"] / 2**20
                    w.spill_mb += t["spill_b"] / 2**20
        return w
