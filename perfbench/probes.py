"""Measurement helpers that observe the program from outside.

* ``RssSampler`` sums the resident memory of this process and all of its
  descendants (the driver JVM and the Python workers) from ``/proc``.
* ``Tracer`` records spans around calls into the library. Each span runs
  its Spark jobs under its own job group, so the status store can
  attribute stages, task metrics and SQL metrics to the span afterwards.
* ``SparkStats`` reads stage, task and SQL metrics from the status store.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def child_pids(root: int) -> list[int]:
    """Every live descendant of ``root``."""
    children = _children()
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_anon_rss(root: int) -> tuple[int, int]:
    """Summed anonymous resident memory (``RssAnon``) of the tree, and that
    of its largest process, in bytes. This is the JVM heap and the Arrow
    and pandas buffers. File-backed pages such as shared libraries are left
    out, because each forked Python worker maps the same ones and a plain
    RSS sum counts them once per worker. On a 4-core host reading ``status``
    takes ~3 ms for the whole tree, and ``smaps_rollup`` ~50 ms with the
    JVM running."""
    total = largest = 0
    for pid in [root, *child_pids(root)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("RssAnon:"):
                        kb = int(line.split()[1])
                        total += kb * 1024
                        largest = max(largest, kb * 1024)
                        break
        except OSError:
            pass
    return total, largest


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """(command name, the fields after it) of a ``/proc`` stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may contain spaces and parentheses
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def tree_cpu_s(root: int) -> tuple[float, float]:
    """CPU seconds (user + system) used so far by ``root`` and every live
    descendant, plus the exited descendants they have reaped; and the part
    of it spent in JVM JIT compiler threads. Time the hypervisor steals from
    the guest is not charged to a process, so on a shared host this reads
    the same work more steadily than a clock does. The compiler threads are
    only counted exactly when the JVM keeps them alive
    (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    total = jit = 0
    for pid in [root, *child_pids(root)]:
        st = _stat_fields(f"/proc/{pid}/stat")
        if st is None:
            continue
        # utime, stime, cutime, cstime are fields 14-17
        total += sum(int(v) for v in st[1][11:15])
        if st[0] != "java":
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            th = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            if th is not None and th[0].startswith(("C1 Compiler", "C2 Compiler")):
                jit += int(th[1][11]) + int(th[1][12])
    return total * _TICK_S, jit * _TICK_S


class RssSampler:
    """Peak anonymous resident memory of the process tree, sampled every
    ``interval`` seconds by a background thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._peak = (0, 0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            sample = _tree_anon_rss(pid)
            with self._lock:
                self._peak = max(self._peak, sample)
            self._stop.wait(self.interval)

    def take(self) -> tuple[int, int]:
        """The peak (tree total, largest process) since the previous take;
        the next take starts from zero."""
        with self._lock:
            peak, self._peak = self._peak, (0, 0)
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans around library calls, kept in memory until the run ends."""
    sc: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        group = f"perfbench:{idx}:{name}"
        parent = self._stack[-1] if self._stack else None
        rec = Span(name, group, parent, time.perf_counter())
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        self.sc.setLocalProperty("callSite.short", name)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer.group, outer.name)
                self.sc.setLocalProperty("callSite.short", outer.name)
            else:
                for key in ("spark.jobGroup.id", "spark.job.description",
                            "callSite.short"):
                    self.sc.setLocalProperty(key, None)

    def traced(self, fn, name: str):
        """``fn`` with every call recorded as a span called ``name``."""
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return call

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned version of itself."""
        setattr(module, attr, self.traced(getattr(module, attr), name))

    def groups_under(self, span: Span) -> set[str]:
        """The job groups of ``span`` and of every span nested in it."""
        idx = self.spans.index(span)
        out = {span.group}
        for i in range(idx + 1, len(self.spans)):
            p = self.spans[i].parent
            if p is not None and self.spans[p].group in out:
                out.add(self.spans[i].group)
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_METRIC_TOTAL = re.compile(r"([0-9.]+)\s*([A-Za-z]+)")


def _parse_metric_total(text: str) -> float:
    """The total of a formatted SQL size/timing metric, in bytes or s."""
    m = _METRIC_TOTAL.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    value, unit = float(m.group(1)), m.group(2)
    return value * _SIZE_UNITS.get(unit, _TIME_UNITS.get(unit, 1.0))


@dataclass
class StageTotals:
    jobs: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    task_max_over_median: float = 0.0
    python_sent_mb: float = 0.0
    python_received_mb: float = 0.0
    python_run_s: float = 0.0


class SparkStats:
    """Reads the status store: jobs by group, then the stages and the
    Python-node SQL metrics of the jobs a caller asks about."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _seq(self, scala_seq) -> list:
        return list(self._conv.asJava(scala_seq))

    def _stages(self) -> list:
        # py4j cannot fill in Scala default arguments: pass them all
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        return self._seq(self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False, no_quantiles,
            self._jvm.java.util.ArrayList()))

    def failed_tasks(self) -> int:
        return sum(s.numFailedTasks() for s in self._stages())

    def jobs_wall_s(self, groups: set[str]) -> float:
        """Wall time covered by the jobs of ``groups`` (overlaps merged)."""
        spans = []
        for j in self._seq(self._store.jobsList(None)):
            g = j.jobGroup()
            if (g.isDefined() and g.get() in groups
                    and j.submissionTime().isDefined()
                    and j.completionTime().isDefined()):
                spans.append((j.submissionTime().get().getTime(),
                              j.completionTime().get().getTime()))
        total, end = 0, None
        for a, b in sorted(spans):
            if end is None or a > end:
                total += b - a
                end = b
            elif b > end:
                total += b - end
                end = b
        return total / 1e3

    def totals(self, groups: set[str]) -> StageTotals:
        t = StageTotals()
        job_ids: set[int] = set()
        stage_ids: set[int] = set()
        for j in self._seq(self._store.jobsList(None)):
            g = j.jobGroup()
            if g.isDefined() and g.get() in groups:
                job_ids.add(j.jobId())
                stage_ids.update(self._seq(j.stageIds()))
        t.jobs = len(job_ids)
        busiest = None
        for s in self._stages():
            if s.stageId() not in stage_ids or s.status().toString() == "SKIPPED":
                continue
            t.executor_run_s += s.executorRunTime() / 1e3
            t.executor_cpu_s += s.executorCpuTime() / 1e9
            t.gc_s += s.jvmGcTime() / 1e3
            t.shuffle_write_mb += s.shuffleWriteBytes() / 1e6
            t.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
            if busiest is None or s.executorRunTime() > busiest.executorRunTime():
                busiest = s
        if busiest is not None:
            t.task_max_over_median = self._max_over_median(busiest)
        self._add_python_metrics(t, job_ids)
        return t

    def _add_python_metrics(self, t: StageTotals, job_ids: set[int]) -> None:
        """Sum the Python-node SQL metrics of the executions that ran
        ``job_ids`` (MapInPandas, ArrowEvalPython, ...)."""
        for e in self._seq(self._sql.executionsList()):
            if not job_ids & set(dict(self._conv.asJava(e.jobs()))):
                continue
            values = self._conv.asJava(self._sql.executionMetrics(e.executionId()))
            for node in self._seq(self._sql.planGraph(e.executionId()).allNodes()):
                for m in self._seq(node.metrics()):
                    text = values.get(m.accumulatorId())
                    if not text:
                        continue
                    if m.name() == "data sent to Python workers":
                        t.python_sent_mb += _parse_metric_total(text) / 1e6
                    elif m.name() == "data returned from Python workers":
                        t.python_received_mb += _parse_metric_total(text) / 1e6
                    elif m.name() == "time to run Python workers":
                        t.python_run_s += _parse_metric_total(text)

    def _max_over_median(self, stage) -> float:
        q = self._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = self._store.taskSummary(stage.stageId(), stage.attemptId(), q)
        if not dist.isDefined():
            return 0.0
        med, mx = self._seq(dist.get().executorRunTime())
        return mx / med if med > 0 else 0.0
