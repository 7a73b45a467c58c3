"""Engine-layer collectors: Spark's own status stores and process memory.

Nothing here needs the Spark UI or an event log. Stage and job figures
come from the core ``AppStatusStore``; Python-crossing figures come from
the SQL status store, which also sees the eager jobs that builders run
before they return a DataFrame.
"""

from __future__ import annotations

import os
import re
import threading
import time

RSS_INTERVAL_S = 0.1
# SQL-metric descriptions of the Python-crossing metrics (``pythonTotalTime``,
# ``pythonBootTime``, ``pythonDataSent``, ``pythonDataReceived``) as the
# plan graph names them; rows received is the ``number of output rows``
# of a node that carries ``_PY_RUN``.
_PY_RUN = "time to run Python workers"
_PY_METRICS = {
    _PY_RUN: "python.run_ms",
    "time to start Python workers": "python.boot_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_PY_NODE_METRICS = {**_PY_METRICS, "number of output rows": "python.rows_received"}
_UNIT_SCALE = {
    "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric value, in ms for timings and
    bytes for sizes. A multi-task value reads
    ``total (min, med, max ...)\\n<total> (...)``; a single-task value is
    the total alone."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparseable SQL metric value: {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT_SCALE.get(m.group(2), 1.0)


def _millis(opt_date) -> int | None:
    return opt_date.get().getTime() if opt_date.isDefined() else None


class EngineStats:
    """Per-interval Spark figures, taken as differences of the status
    stores between ``mark()`` and ``since_mark()``. Ids only grow within
    one SparkContext, so everything above the marked ids is new."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self.mark()

    def _max_ids(self) -> tuple[int, int, int]:
        stage = max((s.stageId() for s in self._iter(self._stages())), default=-1)
        job = max((j.jobId() for j in self._iter(self._store.jobsList(None))), default=-1)
        execs = max(
            (e.executionId() for e in self._iter(self._sql.executionsList())), default=-1
        )
        return stage, job, execs

    @staticmethod
    def _iter(jseq):
        it = jseq.iterator()
        while it.hasNext():
            yield it.next()

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def mark(self) -> None:
        self._mark = self._max_ids()

    def jobs_since_mark(self) -> list[tuple[int, float, float]]:
        """(job id, start s, end s) of every finished job since the mark."""
        out = []
        for j in self._iter(self._store.jobsList(None)):
            if j.jobId() <= self._mark[1]:
                continue
            start, end = _millis(j.submissionTime()), _millis(j.completionTime())
            if start is not None and end is not None:
                out.append((j.jobId(), start / 1e3, end / 1e3))
        return sorted(out)

    def since_mark(self, t0: float, t1: float) -> dict[str, float]:
        """Engine metrics of the jobs, stages and SQL executions started
        after the mark, for a pass that ran over wall interval [t0, t1]."""
        stage_mark, _, exec_mark = self._mark
        m = dict.fromkeys((
            "spark.tasks", "spark.failed_tasks", "spark.task_run_s",
            "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
            "spark.shuffle_write_bytes", "spark.spill_bytes",
        ), 0.0)
        for s in self._iter(self._stages()):
            if s.stageId() <= stage_mark:
                continue
            m["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            m["spark.failed_tasks"] += s.numFailedTasks()
            m["spark.task_run_s"] += s.executorRunTime() / 1e3
            m["spark.task_cpu_s"] += s.executorCpuTime() / 1e9
            m["spark.gc_s"] += s.jvmGcTime() / 1e3
            m["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            m["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            m["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()

        jobs = self.jobs_since_mark()
        m["spark.jobs"] = float(len(jobs))
        m["spark.cpu_share"] = m["spark.task_cpu_s"] / max(t1 - t0, 1e-9)
        m["driver.gap_s"] = (t1 - t0) - _covered(
            [(max(a, t0), min(b, t1)) for _, a, b in jobs if b > t0 and a < t1]
        )
        m.update(self._python_since(exec_mark))
        m["functions.caching.persisted_rdds"] = float(
            self.sc._jsc.getPersistentRDDs().size()
        )
        return m

    def _python_since(self, exec_mark: int) -> dict[str, float]:
        out = dict.fromkeys(_PY_NODE_METRICS.values(), 0.0)
        for e in self._iter(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= exec_mark:
                continue
            values = self._sql.executionMetrics(eid)
            for node in self._iter(self._sql.planGraph(eid).allNodes()):
                metrics = {pm.name(): pm.accumulatorId() for pm in self._iter(node.metrics())}
                if _PY_RUN not in metrics:
                    continue
                for desc, key in _PY_NODE_METRICS.items():
                    acc = metrics.get(desc)
                    if acc is None:
                        continue
                    v = values.get(acc)
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [a, b] intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def tree_pids(root: int) -> list[int]:
    """Every live descendant of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of every descendant of ``root``: the driver JVM that
    PySpark launched and the Python workers the JVM forked."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Polls the process tree's resident memory on a thread; ``peak()``
    returns the maximum seen since the last ``reset()``."""

    def __init__(self, root: int):
        self.root = root
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss_bytes(self.root)
            with self._lock:
                self._peak = max(self._peak, rss)
            time.sleep(RSS_INTERVAL_S)

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_rss_bytes(self.root)

    def peak(self) -> int:
        with self._lock:
            return max(self._peak, tree_rss_bytes(self.root))
