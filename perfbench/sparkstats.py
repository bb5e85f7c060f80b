"""Readers for Spark's own bookkeeping, and the span recorder.

Nothing here is instrumentation inside the program: stage and task
metrics come from the application status store (populated with the UI
off), Python boundary metrics from the SQL metrics of an executed plan's
`MapInArrow` node, and spans from the benchmark's own clock around calls
into the program's public functions.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metric keys of the MapInArrow node (PythonSQLMetrics, Spark 4.1);
# timings are in ms, sizes in bytes
PYTHON_METRICS = ("pythonDataSent", "pythonDataReceived", "pythonBootTime",
                  "pythonInitTime", "pythonTotalTime")


@dataclass
class StageRow:
    stage_id: int
    attempt: int
    description: str
    num_tasks: int
    failed_tasks: int
    run_ms: int
    cpu_ns: int
    shuffle_write: int
    shuffle_read: int
    input_bytes: int
    input_records: int


def _opt(o):
    return o.get() if o.isDefined() else None


def stages(spark) -> list[StageRow]:
    """Every stage the status store still holds, as plain rows."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    quantiles = sc._gateway.new_array(sc._jvm.double, 0)  # noqa: SLF001
    out = []
    it = store.stageList(None, False, False, quantiles, None).iterator()
    while it.hasNext():
        s = it.next()
        out.append(StageRow(
            s.stageId(), s.attemptId(), _opt(s.description()) or "",
            s.numTasks(), s.numFailedTasks(), s.executorRunTime(),
            s.executorCpuTime(), s.shuffleWriteBytes(), s.shuffleReadBytes(),
            s.inputBytes(), s.inputRecords()))
    return out


def job_count(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()  # noqa: SLF001


def task_durations_ms(spark, stage: StageRow) -> list[int]:
    store = spark.sparkContext._jsc.sc().statusStore()  # noqa: SLF001
    it = store.taskList(stage.stage_id, stage.attempt, 100_000).iterator()
    out = []
    while it.hasNext():
        d = _opt(it.next().duration())
        if d is not None:
            out.append(int(d))
    return out


class StageWindow:
    """Stages and jobs that ran between `open()` and `close()`."""

    def __init__(self, spark):
        self.spark = spark
        self._seen = {(s.stage_id, s.attempt) for s in stages(spark)}
        self._jobs0 = job_count(spark)
        self.rows: list[StageRow] = []
        self.jobs = 0

    def close(self) -> "StageWindow":
        self.rows = [s for s in stages(self.spark)
                     if (s.stage_id, s.attempt) not in self._seen]
        self.jobs = job_count(self.spark) - self._jobs0
        return self

    def where(self, description: str) -> list[StageRow]:
        return [s for s in self.rows if s.description == description]

    def failed_tasks(self) -> int:
        return sum(s.failed_tasks for s in self.rows)

    def summary(self) -> dict:
        rows = self.rows
        heavy = max(rows, key=lambda s: s.run_ms, default=None)
        skew = 0.0
        if heavy is not None:
            times = task_durations_ms(self.spark, heavy)
            if times and statistics.median(times) > 0:
                skew = max(times) / statistics.median(times)
        return {
            "jobs": self.jobs,
            "stages": len(rows),
            "tasks": sum(s.num_tasks for s in rows),
            "task_failures": self.failed_tasks(),
            "executor_run_s": sum(s.run_ms for s in rows) / 1e3,
            "jvm_cpu_s": sum(s.cpu_ns for s in rows) / 1e9,
            "shuffle_write_mb": sum(s.shuffle_write for s in rows) / 2**20,
            "shuffle_read_mb": sum(s.shuffle_read for s in rows) / 2**20,
            "task_skew": skew,
        }


def _plan_nodes(plan):
    """Depth-first walk of a physical plan, through adaptive wrappers."""
    todo = [plan]
    while todo:
        node = todo.pop()
        yield node
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif "QueryStage" in name:  # shuffle, broadcast, table cache, result
            todo.append(node.plan())
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())


def run_with_python_metrics(df) -> dict:
    """Materialise `df` through its own query execution (every row is
    produced, as with a noop sink) and return the summed SQL metrics of
    its MapInArrow nodes."""
    qe = df._jdf.queryExecution()  # noqa: SLF001
    qe.toRdd().count()
    totals = {k: 0 for k in PYTHON_METRICS}
    totals["nodes"] = 0
    for node in _plan_nodes(qe.executedPlan()):
        if "MapInArrow" not in node.nodeName():
            continue
        totals["nodes"] += 1
        metrics = node.metrics()
        for k in PYTHON_METRICS:
            m = metrics.get(k)
            if m.isDefined():
                totals[k] += m.get().value()
    return totals


def rdd_storage_mb(spark) -> tuple[float, int]:
    """(memory+disk MB, RDD count) held by persisted/checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    total = sum(i.memSize() + i.diskSize() for i in infos)
    return total / 2**20, len(infos)


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float
    children: list[str] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans recorded in memory around calls into the program's layers.

    A span's children are the layers that feed it, forced on their own
    beforehand; its self time is its duration minus theirs (for example
    resume.newest_per_url minus io.scan)."""

    def __init__(self, spark):
        self.spark = spark
        self.t0 = time.perf_counter()
        self.spans: dict[str, Span] = {}

    @contextmanager
    def span(self, name: str, children: tuple[str, ...] = ()):
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        start = time.perf_counter() - self.t0
        try:
            yield
        finally:
            sc.setJobDescription(None)
            self.spans[name] = Span(name, None, start,
                                    time.perf_counter() - self.t0,
                                    list(children))
            for c in children:
                if c in self.spans:
                    self.spans[c].parent = name

    def dur(self, name: str) -> float:
        return self.spans[name].dur

    def self_time(self, name: str) -> float:
        s = self.spans[name]
        return s.dur - sum(self.spans[c].dur for c in s.children
                           if c in self.spans)

    def rows(self) -> list[dict]:
        return [{"name": s.name, "parent": s.parent,
                 "start_s": round(s.start, 6), "end_s": round(s.end, 6),
                 "dur_s": round(s.dur, 6),
                 "self_s": round(self.self_time(s.name), 6)}
                for s in sorted(self.spans.values(), key=lambda s: s.start)]
