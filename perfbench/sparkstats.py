"""Spark-side numbers for the traced run, read over py4j from the JVM
status stores (both are kept with the UI off).

* ``sc._jsc.sc().statusStore()`` (``AppStatusStore``): jobs, stages and
  task-metric quantiles.
* ``spark._jsparkSession.sharedState().statusStore()``
  (``SQLAppStatusStore``): SQL executions, their final plan graphs and
  per-operator metrics.

Jobs and stages are attributed to a span by the range of job ids
submitted while it was open; this also catches streaming micro-batch
jobs, which run under their own job group.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

MB = 1024.0 * 1024.0
# Physical operators that run Python workers.
PYTHON_NODE = re.compile(r"Pandas|Python|Arrow")
# SQL metric of a Python-worker node -> (key, divisor to the reported unit)
PYTHON_METRICS = {
    "time to run Python workers": ("python_worker_s", 1.0),
    "data sent to Python workers": ("python_mb_sent", MB),
    "data returned from Python workers": ("python_mb_returned", MB),
}
EXCHANGES = ("Exchange", "BroadcastExchange")


@dataclass
class StageStats:
    stage_id: int
    status: str
    num_tasks: int
    failed_tasks: int
    run_ms: int
    cpu_ns: int
    input_bytes: int
    output_bytes: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int
    wall_ms: int
    attempt: int


class SparkReader:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def job_count(self) -> int:
        return int(self._dag.numTotalJobs())

    def drain(self) -> None:
        """Wait until the status listeners have seen every event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def stages_of_jobs(self, job_start: int, job_end: int) -> list[int]:
        ids: set[int] = set()
        for j in range(job_start, job_end):
            try:
                seq = self._store.job(j).stageIds()
            except Exception:  # job evicted from the store
                continue
            ids.update(int(seq.apply(i)) for i in range(seq.size()))
        return sorted(ids)

    def stage(self, stage_id: int) -> StageStats | None:
        try:
            s = self._store.lastStageAttempt(stage_id)
        except Exception:
            return None
        status = s.status().toString()
        sub, done = s.submissionTime(), s.completionTime()
        wall = done.get().getTime() - sub.get().getTime() if sub.isDefined() and done.isDefined() else 0
        return StageStats(
            stage_id=stage_id,
            status=status,
            num_tasks=s.numCompleteTasks(),
            failed_tasks=s.numFailedTasks(),
            run_ms=s.executorRunTime(),
            cpu_ns=s.executorCpuTime(),
            input_bytes=s.inputBytes(),
            output_bytes=s.outputBytes(),
            shuffle_write_bytes=s.shuffleWriteBytes(),
            shuffle_read_bytes=s.shuffleReadBytes(),
            spill_bytes=s.diskBytesSpilled(),
            wall_ms=wall,
            attempt=s.attemptId(),
        )

    def task_quantiles(self, stage: StageStats) -> dict[str, tuple[float, float]] | None:
        """(median, max) per task of run time (ms), shuffle bytes read
        and peak execution memory."""
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        opt = self._store.taskSummary(stage.stage_id, stage.attempt, q)
        if not opt.isDefined():
            return None
        t = opt.get()

        def pair(seq):
            return float(seq.apply(0)), float(seq.apply(1))

        return {
            "run_ms": pair(t.executorRunTime()),
            "shuffle_read_bytes": pair(t.shuffleReadMetrics().readBytes()),
            "peak_mem_bytes": pair(t.peakExecutionMemory()),
        }

    # -- SQL executions -------------------------------------------------

    def last_execution_id(self) -> int:
        n = int(self._sql.executionsCount())
        if n == 0:
            return -1
        return int(self._sql.executionsList(n - 1, 1).apply(0).executionId())

    def executions_after(self, exec_id: int) -> list[int]:
        n = int(self._sql.executionsCount())
        out = []
        seq = self._sql.executionsList()
        for i in range(n - 1, -1, -1):
            eid = int(seq.apply(i).executionId())
            if eid <= exec_id:
                break
            out.append(eid)
        return sorted(out)

    def execution_operators(self, exec_id: int) -> dict[str, float]:
        """Exchange count and Python-worker metrics of one execution's
        final plan."""
        graph = self._sql.planGraph(exec_id)
        nodes = graph.allNodes()
        values = None
        out = {"exchanges": 0, "python_worker_s": 0.0, "python_mb_sent": 0.0, "python_mb_returned": 0.0}
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            if name in EXCHANGES:
                out["exchanges"] += 1
            if not PYTHON_NODE.search(name):
                continue
            if values is None:
                values = self._sql.executionMetrics(exec_id)
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key, divisor = PYTHON_METRICS.get(m.name(), (None, 1.0))
                v = values.get(m.accumulatorId())
                if key and v.isDefined():
                    out[key] += parse_metric(v.get()) / divisor
        return out


_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024.0, "TiB": MB * MB,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``"1.2 s"``, ``"3.0 KiB"``, or the
    ``"total (min, med, max ...)\\n<total> (...)"`` form; times in
    seconds, sizes in bytes."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def environment(spark) -> dict:
    sc = spark.sparkContext
    conf = spark.conf
    jvm = sc._jvm
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": sc.getConf().get("spark.driver.memory", "default"),
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
    }
