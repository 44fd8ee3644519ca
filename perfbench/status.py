"""Per-operation counts from Spark's own status stores.

Every operation runs under its own job group.  After it returns, the
listener bus is drained and the group's jobs are looked up in the core
status store (stage and task data) and in the SQL status store (plan-node
metrics).  Both stores work with the UI disabled.
"""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass, field

_UNITS = {
    "": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
    "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float | None:
    """A SQL metric's display string as a number: sizes in bytes, times in
    seconds, sums as counts.  Aggregated metrics read
    ``"total (min, med, max ...)\\n7.8 s (1.9 s, ...)"``; the total is
    the first value of the last line.  Metrics shown without a total
    (``"(min, med, max ...)"`` only) give None."""
    line = text.strip().splitlines()[-1]
    m = _VALUE_RE.match(line)
    if not m:
        return None
    value, unit = m.groups()
    return float(value.replace(",", "")) * _UNITS[unit]


@dataclass
class OpStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    # per stage: task durations in seconds
    task_durations: dict[int, list[float]] = field(default_factory=dict)
    # (plan node name, metric name) -> summed value over the operation
    sql: dict[tuple[str, str], float] = field(default_factory=dict)

    def sql_sum(self, node_prefix: str, metric: str) -> float:
        return sum(
            v for (node, name), v in self.sql.items()
            if node.startswith(node_prefix) and name == metric
        )

    def python(self, node_prefix: str) -> dict[str, float]:
        """Python-worker metrics of the plan nodes named ``node_prefix``."""
        return {
            "run_s": self.sql_sum(node_prefix, "time to run Python workers"),
            "boot_s": self.sql_sum(node_prefix, "time to start Python workers"),
            "init_s": self.sql_sum(
                node_prefix, "time to initialize Python workers"),
            "bytes_in": self.sql_sum(
                node_prefix, "data sent to Python workers"),
            "bytes_out": self.sql_sum(
                node_prefix, "data returned from Python workers"),
            "rows_out": self.sql_sum(node_prefix, "number of output rows"),
        }

    def task_skew(self) -> float:
        """max/median task time of the stage with the most task time."""
        if not self.task_durations:
            return 1.0
        durs = max(self.task_durations.values(), key=sum)
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 1.0


class StatusReader:
    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext
        self._core = self._sc._jsc.sc().statusStore()
        self._sqlstore = spark._jsparkSession.sharedState().statusStore()
        self._conv = self._sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)

    def _seq(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def persisted_rdds(self) -> int:
        """Live cached RDDs, which is where scoped composed-query caches
        land once materialized."""
        return int(self._sc._jsc.getPersistentRDDs().size())

    def op_stats(self, group: str, durations: bool = False,
                 sql_nodes: tuple[str, ...] = ()) -> OpStats:
        """Counts of the jobs run under ``group``.  Each gateway round trip
        costs time, so per-task durations are read only when
        ``durations``, and SQL metrics only of plan nodes whose names
        start with one of ``sql_nodes``."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        job_ids = self._sc.statusTracker().getJobIdsForGroup(group)
        st = OpStats(jobs=len(job_ids))
        stage_ids: set[int] = set()
        executions: set[int] = set()
        for j in job_ids:
            if sql_nodes:
                job, sql_id = self._job_and_sql(j)
                if sql_id is not None:
                    executions.add(sql_id)
            else:
                job = self._core.job(j)
            stage_ids.update(int(s) for s in self._seq(job.stageIds()))
        for s in sorted(stage_ids):
            for sd in self._seq(self._core.stageData(
                    s, False, None, False, self._no_quantiles)):
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its output was reused
                st.stages += 1
                st.tasks += int(sd.numCompleteTasks())
                st.executor_cpu_s += sd.executorCpuTime() / 1e9
                st.gc_s += sd.jvmGcTime() / 1e3
                st.shuffle_write_bytes += int(sd.shuffleWriteBytes())
                if not durations:
                    continue
                st.task_durations[s] = [
                    t.duration().get() / 1e3
                    for t in self._seq(self._core.taskList(
                        s, sd.attemptId(), 1_000_000))
                    if t.duration().isDefined()
                ]
        for ex in executions:
            values = self._conv.asJava(self._sqlstore.executionMetrics(ex))
            for node in self._seq(self._sqlstore.planGraph(ex).allNodes()):
                name = str(node.name())
                if not name.startswith(sql_nodes):
                    continue
                for m in self._seq(node.metrics()):
                    text = values.get(m.accumulatorId())
                    if text is None:
                        continue
                    value = parse_sql_metric(text)
                    if value is None:
                        continue
                    key = (name, str(m.name()))
                    st.sql[key] = st.sql.get(key, 0.0) + value
        return st

    def _job_and_sql(self, job_id: int):
        pair = self._core.jobWithAssociatedSql(job_id)
        sql = pair._2()
        return pair._1(), (int(sql.get()) if sql.isDefined() else None)
