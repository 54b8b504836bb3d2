"""Per-layer readings taken from outside the program.

Nothing here touches an engine file: the benchmark reads Spark's own
status stores after each query has been collected and checked.

- Jobs are attributed to a query by job id. The DAG scheduler hands
  out ids in order and the benchmark is a closed loop with one client,
  so the ids allocated between a query's start and end are that
  query's jobs. (A job group per query would miss the micro-batch
  jobs: Structured Streaming sets its own group on its thread.)
- Stage data (run time, CPU, GC, shuffle, spill, input, output) comes
  from ``AppStatusStore.lastStageAttempt``; skipped stages count as
  neither stages nor work.
- Python-worker time and Arrow bytes are the SQL node metrics of the
  query's SQL executions in ``SQLAppStatusStore``.
- Catalyst phase times come from the result's
  ``QueryExecution.tracker()``.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

MB = 1 << 20

# SQL node metric display names (PythonSQLMetrics) -> layer key.
_PY_METRICS = {
    "time to run Python workers": "python_udf.run_s",
    "time to start Python workers": "python_udf.boot_s",
    "data sent to Python workers": "python_udf.arrow_mb",
    "data returned from Python workers": "python_udf.arrow_mb",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0 / MB, "KiB": 1.0 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0**2,
}
_TOTAL_RE = re.compile(r"^([0-9.,]+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric (``SQLMetrics.stringValue``),
    in seconds for timings and MiB for sizes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL_RE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class SparkProbe:
    """Status-store reader bound to one SparkContext."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = self._last_execution_id() + 1

    def jobs_started(self) -> int:
        """Jobs the DAG scheduler has allocated so far (synchronous)."""
        return self._sc.dagScheduler().numTotalJobs()

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def persistent(self) -> tuple[int, float]:
        """Persistent RDDs still registered, and their cached MiB."""
        infos = self._sc.getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        return self.spark.sparkContext._jsc.getPersistentRDDs().size(), size / MB

    def query_layers(self, job_lo: int, job_hi: int, df) -> dict[str, float]:
        """Layer totals for the jobs ``[job_lo, job_hi)`` and the SQL
        executions that ran since the previous call."""
        self._sc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(
            (
                "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
                "executor.run_s", "executor.cpu_s", "executor.gc_s",
                "shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb",
                "scan.input_mb", "scan.input_rows", "streaming.output_mb",
                "python_udf.run_s", "python_udf.boot_s", "python_udf.arrow_mb",
                "catalyst.analysis_ms", "catalyst.optimization_ms",
                "catalyst.planning_ms",
            ),
            0.0,
        )
        stages: set[int] = set()
        for jid in range(job_lo, job_hi):
            job = self._store.job(jid)
            out["scheduler.jobs"] += 1
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage of the job that never ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["scheduler.stages"] += 1
            out["scheduler.tasks"] += st.numCompleteTasks()
            out["executor.run_s"] += st.executorRunTime() / 1e3
            out["executor.cpu_s"] += st.executorCpuTime() / 1e9
            out["executor.gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle.write_mb"] += st.shuffleWriteBytes() / MB
            out["shuffle.read_mb"] += st.shuffleReadBytes() / MB
            out["shuffle.spill_mb"] += st.diskBytesSpilled() / MB
            out["scan.input_mb"] += st.inputBytes() / MB
            out["scan.input_rows"] += st.inputRecords()
            out["streaming.output_mb"] += st.outputBytes() / MB
        for key, value in self._python_metrics().items():
            out[key] += value
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if not opt.isEmpty():
                out[f"catalyst.{phase}_ms"] += opt.get().durationMs()
        return out

    def _python_metrics(self) -> dict[str, float]:
        totals: dict[str, float] = {}
        last = self._last_execution_id()
        for eid in range(self._next_exec, last + 1):
            opt = self._sql.execution(eid)
            if opt.isEmpty():
                continue
            metrics = opt.get().metrics()
            values = self._sql.executionMetrics(eid)
            seen: set[int] = set()
            for i in range(metrics.size()):
                m = metrics.apply(i)
                key = _PY_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                val = values.get(acc)
                if not val.isEmpty():
                    totals[key] = totals.get(key, 0.0) + parse_metric(val.get())
        self._next_exec = last + 1
        return totals
