"""Spark accounting by job-ID window, read from Spark's own status store.

The benchmark drives the engine from one client thread, so every job and
SQL execution whose ID is above the marks taken before a call belongs to
that call — including jobs started from thread pools, which escape
thread-local job groups.  Read the window right after the call: the store
keeps only the last ``spark.ui.retainedJobs`` (1000) jobs and stages.

Works with ``spark.ui.enabled=false``; needs no listener jar.
"""

from __future__ import annotations

import re
import statistics

# SQL metric names (Spark 4.1) summed into the Python-worker figures
PY_RUN = "time to run Python workers"
PY_INIT = ("time to start Python workers", "time to initialize Python workers")
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
_SQL_WANTED = {PY_RUN, *PY_INIT, PY_SENT, PY_RETURNED}

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
          "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of one SQL metric as the status store renders it: ``'1,234'``,
    ``'464.3 KiB'``, ``'12 ms'``, or a ``'total (min, med, max ...)\\n4.8 s
    (...)'`` block.  Sizes come back in bytes, times in seconds."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _seq(jseq) -> list:
    out, it = [], jseq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _opt_ms(jopt) -> float | None:
    return jopt.get().getTime() / 1000.0 if jopt.isDefined() else None


def totals(jobs: list[dict]) -> dict:
    """Sum job records; ``task_skew`` is that of the heaviest stage."""
    keys = ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
    out = {"jobs": len(jobs), **{k: sum(j[k] for j in jobs) for k in keys}}
    heaviest = max(jobs, key=lambda j: j["heaviest_s"], default=None)
    out["task_skew"] = heaviest["task_skew"] if heaviest else 0.0
    return out


def union_length(spans: list[tuple[float, float]]) -> float:
    """Length covered by the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkAccount:
    """Marks the job and SQL-execution IDs before a call; ``read`` sums
    everything Spark ran after the marks."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._store, self._bus = sc.statusStore(), sc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._job_mark = self._exec_mark = -1

    def _drain(self) -> None:
        """The store is fed by the asynchronous listener bus: a job can
        have returned before its end event reached the store.  Wait until
        every posted event is delivered."""
        self._bus.waitUntilEmpty()

    def _max_job(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def _max_exec(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).head().executionId()

    def mark(self) -> None:
        self._drain()
        self._job_mark, self._exec_mark = self._max_job(), self._max_exec()

    def jobs(self) -> list:
        out = []
        for j in _seq(self._store.jobsList(None)):
            if j.jobId() <= self._job_mark:
                break
            out.append(j)
        return out

    def read(self) -> tuple[list[dict], dict]:
        """(one record per job in the window, Python-worker SQL metrics
        for the window).  A job record holds its span (epoch seconds),
        its stage and task counts, executor run/CPU/GC seconds, shuffle
        and spill bytes, and the run time and skew (max over median task
        run time) of its heaviest stage."""
        self._drain()
        jobs = []
        for j in self.jobs():
            rec = dict(start=_opt_ms(j.submissionTime()),
                       end=_opt_ms(j.completionTime()), stages=0, tasks=0,
                       executor_run_s=0.0, executor_cpu_s=0.0, gc_s=0.0,
                       shuffle_write_bytes=0, shuffle_read_bytes=0,
                       spill_bytes=0, heaviest_s=0.0, task_skew=0.0)
            heaviest = None
            for sid in filter(None, j.stageIds().mkString(",").split(",")):
                for st in _seq(self._store.stageData(int(sid), False, None,
                                                     False, None)):
                    if str(st.status()) == "SKIPPED":
                        continue
                    run = st.executorRunTime() / 1e3
                    rec["stages"] += 1
                    rec["tasks"] += st.numCompleteTasks()
                    rec["executor_run_s"] += run
                    rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    rec["gc_s"] += st.jvmGcTime() / 1e3
                    rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    rec["shuffle_read_bytes"] += st.shuffleReadBytes()
                    rec["spill_bytes"] += (st.memoryBytesSpilled()
                                           + st.diskBytesSpilled())
                    if run >= rec["heaviest_s"]:
                        rec["heaviest_s"] = run
                        heaviest = (int(sid), st.attemptId())
            if heaviest is not None:
                rec["task_skew"] = self._skew(*heaviest)
            jobs.append(rec)
        return jobs, self._python_metrics()

    def _skew(self, stage_id: int, attempt: int) -> float:
        runs = [t.taskMetrics().get().executorRunTime()
                for t in _seq(self._store.taskList(stage_id, attempt, 100_000))
                if t.taskMetrics().isDefined()]
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med > 0 else 0.0

    def _new_executions(self) -> list:
        """Executions after the mark; the store lists them by ascending
        ID, so read a growing tail until it reaches the mark."""
        n, k = self._sql.executionsCount(), 16
        while True:
            k = min(k, n)
            tail = _seq(self._sql.executionsList(n - k, k)) if k else []
            if k == n or not tail or tail[0].executionId() <= self._exec_mark:
                return [ex for ex in tail
                        if ex.executionId() > self._exec_mark]
            k *= 4

    def _python_metrics(self) -> dict:
        tot = {PY_RUN: 0.0, PY_SENT: 0.0, PY_RETURNED: 0.0, "init": 0.0}
        for ex in self._new_executions():
            wanted = {}
            # SQLPlanMetric(name,accumulatorId,metricType), one per line
            for line in ex.metrics().mkString("\n").split("\n"):
                name, acc_id, _ = line[len("SQLPlanMetric("):-1].rsplit(",", 2)
                if name in _SQL_WANTED:
                    wanted[acc_id] = name
            if not wanted:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            for entry in values.mkString("\u0001").split("\u0001"):
                acc_id, _, text = entry.partition(" -> ")
                name = wanted.pop(acc_id, None)  # AQE re-lists metrics
                if name is not None:
                    tot["init" if name in PY_INIT else name] += parse_metric(text)
        return {"python_run_s": tot[PY_RUN], "python_init_s": tot["init"],
                "python_bytes_sent": tot[PY_SENT],
                "python_bytes_returned": tot[PY_RETURNED]}
