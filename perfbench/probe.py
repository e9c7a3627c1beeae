"""Reads Spark's own bookkeeping for the traced run: the status store for
jobs, stages and SQL scan metrics, and each query's planning tracker for
the Catalyst phases. Everything goes through py4j to the driver JVM; there
is no UI port and no sleeping."""

from __future__ import annotations

from dataclasses import dataclass, fields

from pyspark.sql import DataFrame, SparkSession

# SQL metric names (SQLMetrics) that a file scan reports
_FILES_READ = "number of files read"
_SEP = "\u0001"


@dataclass
class ExecCounts:
    """Work Spark did for one span. Times in seconds, sizes in bytes."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    files_read: int = 0

    def add(self, other: ExecCounts) -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))

    def as_dict(self) -> dict:
        return {f.name: getattr(self, f.name) for f in fields(self)}


class SparkProbe:
    """Tags the jobs of one span with a job group and reads their counts
    back once the listener bus has delivered every event."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec = self._last_execution_id()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> ExecCounts:
        """Counts for every job started under `group` and every SQL
        execution that started since the previous `end`."""
        self.sc._jsc.clearJobGroup()
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = ExecCounts()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            out.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.run_s += (done.get().getTime() - sub.get().getTime()) / 1e3
            for stage_id in _seq(job.stageIds()):
                try:
                    stage = store.lastStageAttempt(stage_id)
                except Exception:  # skipped stages never get an attempt
                    continue
                out.stages += 1
                out.tasks += stage.numCompleteTasks()
                out.failed_tasks += stage.numFailedTasks()
                out.executor_run_s += stage.executorRunTime() / 1e3
                out.executor_cpu_s += stage.executorCpuTime() / 1e9
                out.shuffle_write_bytes += stage.shuffleWriteBytes()
                out.shuffle_read_bytes += stage.shuffleReadBytes()
                out.spill_bytes += stage.diskBytesSpilled()
                out.input_bytes += stage.inputBytes()
        out.files_read = self._files_read_since()
        return out

    def _last_execution_id(self) -> int:
        execs = self._sql_store.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def _files_read_since(self) -> int:
        """Files scanned by the SQL executions newer than the last call.
        The store lists executions in id order, so walk back from the
        newest. Plan metrics and their values cross py4j as one string
        each: a call per metric would cost more than the work it traces."""
        execs = self._sql_store.executionsList()
        total, newest = 0, self._seen_exec
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self._seen_exec:
                break
            newest = max(newest, eid)
            accs = {
                acc
                for name, acc in _plan_metrics(ex.metrics().mkString(_SEP))
                if name == _FILES_READ
            }
            if accs:
                values = _metric_values(
                    self._sql_store.executionMetrics(eid).mkString(_SEP)
                )
                total += sum(values.get(acc, 0) for acc in accs)
        self._seen_exec = newest
        return total


def _plan_metrics(text: str) -> list[tuple[str, int]]:
    """Parse `SQLPlanMetric(name,accumulatorId,metricType)` entries."""
    out = []
    for item in text.split(_SEP) if text else []:
        name, acc, _ = item[len("SQLPlanMetric(") : -1].rsplit(",", 2)
        out.append((name, int(acc)))
    return out


def _metric_values(text: str) -> dict[int, int]:
    """Parse `accumulatorId -> value` entries, keeping plain counts only
    (sum metrics render as integers with thousands separators)."""
    out = {}
    for item in text.split(_SEP) if text else []:
        acc, _, value = item.partition(" -> ")
        value = value.replace(",", "")
        if value.isdigit():
            out[int(acc)] = int(value)
    return out


def catalyst_phases(df: DataFrame) -> dict[str, float]:
    """Seconds spent in analysis, optimization and planning for the query
    that produced `df` (QueryPlanningTracker; read after the action)."""
    phases = {
        kv._1(): kv._2().durationMs() / 1e3
        for kv in _seq(df._jdf.queryExecution().tracker().phases())
    }
    return {n: phases.get(n, 0.0) for n in ("analysis", "optimization", "planning")}


def persisted_bytes(spark: SparkSession) -> int:
    """Memory plus disk bytes of every cached RDD block right now."""
    return sum(
        int(info.memSize()) + int(info.diskSize())
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()
