"""Read Spark's SQL and stage status stores for the jobs of one job group.

Both stores are filled with the UI off. The benchmark tags every call it
makes into the program with ``SparkContext.setJobGroup`` and afterwards
looks up the SQL executions and stages whose jobs carry that group.
"""

from __future__ import annotations

from perfbench.stats import parse_metric

INSERT = "Execute InsertIntoHadoopFsRelationCommand"


class SparkStats:
    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = spark._jvm
        self._cc = jvm.scala.jdk.javaapi.CollectionConverters
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = sc._jsc.sc().statusStore()
        self._tracker = sc.statusTracker()
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _seq(self, seq) -> list:
        return list(self._cc.asJava(seq))

    def job_ids(self, group: str) -> set:
        return set(self._tracker.getJobIdsForGroup(group))

    def executions(self, job_ids: set) -> list:
        """SQL executions that ran any of ``job_ids``, oldest first:
        ``{"id", "jobs", "start", "end", "nodes": [(node, {metric: parsed})]}``
        with times in epoch seconds."""
        out = []
        for e in self._seq(self._sql.executionsList()):
            if not job_ids & set(self._cc.asJava(e.jobs()).keySet()):
                continue
            eid = e.executionId()
            jobs = [int(j) for j in self._cc.asJava(e.jobs()).keySet()]
            values = self._cc.asJava(self._sql.executionMetrics(eid))
            nodes = []
            for node in self._seq(self._sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in self._seq(node.metrics()):
                    text = values.get(m.accumulatorId())
                    if text is not None:
                        metrics[m.name()] = parse_metric(text)
                nodes.append((node.name(), metrics))
            end = e.completionTime()
            out.append({
                "id": eid,
                "jobs": jobs,
                "start": e.submissionTime() / 1000.0,
                "end": end.get().getTime() / 1000.0 if end.isDefined() else None,
                "nodes": nodes,
            })
        return sorted(out, key=lambda x: x["id"])

    def stages(self, job_ids: set) -> list:
        """Completed stages of ``job_ids`` with their task totals and the
        max / median task duration."""
        ids = set()
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        out = []
        for s in self._seq(self._app.stageList(
                self._empty, False, False, self._no_quantiles, self._empty)):
            if s.stageId() not in ids or s.numCompleteTasks() == 0:
                continue
            durations = sorted(
                t.duration().get() / 1000.0
                for t in self._seq(self._app.taskList(s.stageId(), s.attemptId(), 1 << 20))
                if t.duration().isDefined())
            out.append({
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1000.0,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1000.0,
                "shuffle_write_mb": s.shuffleWriteBytes() / 2 ** 20,
                "spill_mb": s.diskBytesSpilled() / 2 ** 20,
                "skew": task_skew(durations),
            })
        return out


def task_skew(durations: list) -> float:
    """Max over median task duration; 1.0 for fewer than two tasks."""
    if len(durations) < 2:
        return 1.0
    n = len(durations)
    med = (durations[(n - 1) // 2] + durations[n // 2]) / 2
    return durations[-1] / med if med > 0 else 1.0


def weighted_skew(stages: list) -> float:
    """Task skew of several stages, weighted by each stage's run time."""
    total = sum(s["run_s"] for s in stages)
    if total <= 0:
        return 1.0
    return sum(s["skew"] * s["run_s"] for s in stages) / total


def node_total(execs: list, prefix: str, metric: str) -> float:
    """Sum of one metric's total over every plan node whose name starts
    with ``prefix``."""
    return sum(
        m[metric]["total"]
        for e in execs for name, m in e["nodes"]
        if name.startswith(prefix) and metric in m)


def has_node(execution: dict, prefix: str) -> bool:
    return any(name.startswith(prefix) for name, _ in execution["nodes"])
