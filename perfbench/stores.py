"""Per-layer numbers from Spark's status stores and from ``/proc``.

Jobs are found by the job group set around each timed call
(``SparkContext.setJobGroup``); their stages and tasks come from the core
``AppStatusStore`` and the SQL metrics (Python bytes, written files) from
the ``SQLAppStatusStore``. Both stores are filled with
``spark.ui.enabled=false``. No plan text is read.
"""

from __future__ import annotations

import os
import re
import statistics
import threading

MB = 1 << 20


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


class StageStats:
    """Task-level totals of one stage (attempt 0)."""

    def __init__(self, store, stage_id: int):
        self.durations: list[float] = []
        self.run_s = self.cpu_s = 0.0
        self.input_bytes = self.shuffle_read = self.shuffle_write = 0
        self.spill_bytes = self.output_bytes = 0
        for t in _seq(store.taskList(stage_id, 0, 1 << 20)):
            self.durations.append(_opt(t.duration(), 0) / 1000)
            m = _opt(t.taskMetrics())
            if m is None:
                continue
            self.run_s += m.executorRunTime() / 1000
            self.cpu_s += m.executorCpuTime() / 1e9
            self.input_bytes += m.inputMetrics().bytesRead()
            sr = m.shuffleReadMetrics()
            self.shuffle_read += sr.remoteBytesRead() + sr.localBytesRead()
            self.shuffle_write += m.shuffleWriteMetrics().bytesWritten()
            self.spill_bytes += m.diskBytesSpilled()
            self.output_bytes += m.outputMetrics().bytesWritten()

    @property
    def tasks(self) -> int:
        return len(self.durations)

    @property
    def skew(self) -> float:
        if not self.durations:
            return 0.0
        med = statistics.median(self.durations)
        return max(self.durations) / med if med > 0 else 0.0


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_RE_VALUE = re.compile(r"([\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric ("2,000", "5.1 MiB", "total (...)\\n3.7 s
    (...)") as a number in bytes, seconds or plain count."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _RE_VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class GroupTrace:
    """Everything the stores hold about the jobs of some job groups."""

    def __init__(self, spark, groups: list[str]):
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        self.job_ids = sorted(j for g in groups
                              for j in tracker.getJobIdsForGroup(g))
        self.spans: list[tuple[float, float]] = []
        stage_ids: set[int] = set()
        for j in self.job_ids:
            jd = store.job(j)
            start = _opt(jd.submissionTime())
            end = _opt(jd.completionTime())
            if start is not None and end is not None:
                self.spans.append((start.getTime() / 1000, end.getTime() / 1000))
            stage_ids.update(_seq(jd.stageIds()))
        self.stages = [StageStats(store, s) for s in sorted(stage_ids)]
        self.stages = [s for s in self.stages if s.tasks]
        self.sql = self._sql_metrics(spark, set(self.job_ids))

    @staticmethod
    def _sql_metrics(spark, job_ids: set[int]) -> dict[str, float]:
        """Sum of each named SQL metric over the executions that ran one of
        ``job_ids``."""
        sq = spark._jsparkSession.sharedState().statusStore()
        out: dict[str, float] = {}
        for e in _seq(sq.executionsList()):
            if not any(e.jobs().contains(j) for j in job_ids):
                continue
            values = sq.executionMetrics(e.executionId())
            for m in _seq(e.metrics()):
                v = _opt(values.get(m.accumulatorId()))
                if v is not None:
                    out[m.name()] = out.get(m.name(), 0.0) + parse_metric(v)
        return out

    def jobs_wall(self) -> float:
        """Length of the union of the job spans."""
        total, end = 0.0, float("-inf")
        for s, e in sorted(self.spans):
            if e <= end:
                continue
            total += e - max(s, end)
            end = e
        return total

    def heaviest(self) -> StageStats | None:
        return max(self.stages, key=lambda s: s.run_s, default=None)

    def total(self, attr: str) -> float:
        return sum(getattr(s, attr) for s in self.stages)


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid``, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    todo, seen = list(children.get(pid, [])), []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(children.get(p, []))
    return seen


def _ticks(stat: str) -> int:
    fields = stat.rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def tree_cpu_s(pid: int, jit: bool = True) -> float:
    """User plus system CPU seconds so far of ``pid`` and its live
    descendants (the JVM and the Python workers). CPU time, unlike wall
    time, does not grow when the machine takes the CPU away.

    ``jit=False`` leaves out the JVM's JIT compiler threads. Compilation
    goes on for many ops after warm-up and its CPU falls from op to op;
    it is the JVM warming up, not work the program asked for."""
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                ticks += _ticks(f.read())
            if jit:
                continue
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/stat") as f:
                    stat = f.read()
                if "CompilerThre" in stat[stat.index("("):stat.rindex(")")]:
                    ticks -= _ticks(stat)
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class WorkerRss:
    """Peak VmHWM over this process's Python worker descendants (the
    pyspark daemon and its forked workers), sampled from ``/proc``."""

    def __init__(self, interval: float = 0.5):
        self.peak_kb = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "WorkerRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kb / 1024

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    argv = f.read().split(b"\0")
                if b"python" not in argv[0] or b"pyspark" not in b" ".join(argv):
                    continue
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
            except OSError:
                continue
