"""Readings taken from Spark itself and from ``/proc``.

- job/stage/task counts through ``statusTracker`` job groups;
- per-operator totals (shuffle bytes, spill, Python worker time) from the
  SQL status store, which keeps answering with the UI off;
- per-trigger ``durationMs`` parts from ``StreamingQueryProgress``;
- peak resident memory of the JVM and its Python workers.
"""

from __future__ import annotations

import os
import signal
import statistics
import threading
import time

from pyspark import SparkContext

_PAGE = os.sysconf("SC_PAGE_SIZE")
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
# SQL metric name -> exec.* metric it adds to, with the value's kind.
SQL_METRICS = {
    "shuffle bytes written": ("exec.shuffle_write_bytes", "size"),
    "spill size": ("exec.spill_bytes", "size"),
    "time to run Python workers": ("exec.python_udf_ms", "timing"),
}


def quantile(values: list[float], q: float) -> float:
    """The ``q`` cut point (0 < q < 1) of ``statistics.quantiles``,
    inclusive method, so it stays within the sampled range."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def parse_sql_metric(text: str, kind: str) -> float:
    """Total of a status-store size or timing metric: '2.6 KiB', '45 ms'
    or 'total (min, med, max ...)\\n9.0 s (...)'."""
    num, unit = text.split("\n")[-1].split(" (")[0].split()
    return float(num) * (_SIZE if kind == "size" else _TIME_MS)[unit]


def wait_for_listeners(spark, timeout_ms: int = 10_000) -> None:
    """Let the listener bus deliver pending events to the status stores."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def job_group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) run under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        for stage in info.stageIds:
            stages += 1
            sinfo = tracker.getStageInfo(stage)
            tasks += sinfo.numTasks if sinfo is not None else 0
    return len(jobs), stages, tasks


class SqlStore:
    """Walks the SQL executions recorded since the last call."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._next = int(self._store.executionsCount())
        # executionsCount counts what is retained; ids may start past it.
        while self._store.execution(self._next).isDefined():
            self._next += 1

    def harvest(self) -> dict[str, float]:
        totals = {name: 0.0 for name, _ in SQL_METRICS.values()}
        while True:
            found = self._store.execution(self._next)
            if not found.isDefined():
                return totals
            execution = found.get()
            values = self._store.executionMetrics(self._next)
            seen = set()
            it = execution.metrics().iterator()
            while it.hasNext():
                metric = it.next()
                target = SQL_METRICS.get(metric.name())
                acc = metric.accumulatorId()
                if target is None or acc in seen:
                    continue
                seen.add(acc)
                value = values.get(acc)
                if value.isDefined():
                    totals[target[0]] += parse_sql_metric(value.get(), target[1])
            self._next += 1


def floor_ms(spark, n: int = 15) -> float:
    """Median wall-clock of a 1-row ``noop`` save: the per-job floor."""
    df = spark.range(1)
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def progress_durations(progress) -> list[dict]:
    """``durationMs`` of each ``StreamingQueryProgress`` that read data."""
    return [p.durationMs for p in progress if p.numInputRows > 0]


def _children(pids: set[int]) -> set[int]:
    out = set()
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fobj:
                ppid = int(fobj.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid in pids:
            out.add(int(entry))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fobj:
            return int(fobj.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def process_tree(root: int) -> set[int]:
    """``root`` and every process below it."""
    tree = {root}
    frontier = set(tree)
    while frontier:
        frontier = _children(frontier) - tree
        tree |= frontier
    return tree


def wait_gone(pids: set[int], timeout_s: float = 30.0) -> None:
    """Wait for processes to exit; kill any still alive at the timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = {p for p in pids if os.path.exists(f"/proc/{p}")}
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.05)


class RssSampler:
    """Samples the summed RSS of the JVM and every process under it."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_bytes = 0
        self.peak_jvm_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        gateway = SparkContext._gateway
        if gateway is None:
            return
        jvm = gateway.proc.pid
        rss = {pid: _rss_bytes(pid) for pid in process_tree(jvm)}
        total = sum(rss.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_jvm_bytes = rss[jvm]

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
        return self.peak_bytes / (1 << 20)
