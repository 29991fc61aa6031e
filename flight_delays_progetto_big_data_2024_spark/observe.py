"""One scope that records what a block of Spark work ran.

``with observe(spark) as rec:`` runs the block's jobs under a job group
of its own, restored to the enclosing one on exit, so a nested scope's
jobs stay out of the outer record; a stream's micro-batches run under
its run id (``rec.add_group(query.runId)``). On exit the listener bus
is drained and ``rec`` filled from the status stores (UI off is fine):
jobs, non-skipped stages and tasks, executor CPU and run time, SQL
executions (a difference of the newest execution id, which survives
retention) and Janino compiles; the last two are JVM-wide. Stage
retention evicts skipped stages first, then the oldest, so a scope's
own stages that ran are still there unless it ran most of the 1000
kept; the tasks they hold must add up to its jobs' tasks, and a job or
stage already evicted raises :class:`StatusEvicted` instead of reading
low.
"""

from __future__ import annotations

import contextlib
import uuid
from collections.abc import Iterator
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

JOB_GROUP = "spark.jobGroup.id"


class StatusEvicted(RuntimeError):
    """The status store dropped a job or stage the scope ran. A retried
    stage reads as dropped too: only its last attempt is read, while the
    job counts every attempt's tasks."""


@dataclass
class Record:
    """What one :func:`observe` scope ran, filled when the block exits."""

    spark: SparkSession = field(repr=False)
    groups: list[str]
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_ms: int = 0
    task_run_ms: int = 0
    sql_executions: int = 0
    compiles: int = 0
    last_execution: int = -1

    def add_group(self, group: str) -> None:
        self.groups.append(group)

    def plan_nodes(self) -> list[str]:
        """Operator names of the newest execution's final plan graph
        ([] if the block ran none): query stages unwrapped, a reused
        exchange linked to its first copy instead of repeated."""
        if not self.sql_executions:
            return []
        store = self.spark._jsparkSession.sharedState().statusStore()
        nodes = store.planGraph(self.last_execution).allNodes()
        return [nodes.apply(i).name() for i in range(nodes.size())]


def _newest_execution(sql_store) -> int:
    newest = sql_store.executionsList(max(sql_store.executionsCount() - 1, 0), 1)
    return newest.last().executionId() if newest.size() else -1


@contextlib.contextmanager
def observe(spark: SparkSession) -> Iterator[Record]:
    """Scope a block of Spark work (module docstring); a block that
    raises leaves its record unfilled."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compile_times = codegen.METRIC_COMPILATION_TIME()
    rec = Record(spark, [f"observe-{uuid.uuid4().hex}"])
    outer = sc.getLocalProperty(JOB_GROUP)
    bus.waitUntilEmpty()  # an earlier execution's start may be queued
    first_execution = _newest_execution(sql_store)
    compiled = compile_times.getCount()
    sc.setLocalProperty(JOB_GROUP, rec.groups[0])
    try:
        yield rec
    finally:
        sc.setLocalProperty(JOB_GROUP, outer)
    rec.compiles = compile_times.getCount() - compiled
    bus.waitUntilEmpty()
    rec.last_execution = _newest_execution(sql_store)
    rec.sql_executions = rec.last_execution - first_execution
    store = sc._jsc.sc().statusStore()
    stage_ids, job_tasks, cpu_ns = set(), 0, 0
    for group in rec.groups:
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            try:
                job = store.job(job_id)
            except Py4JJavaError as exc:  # the JVM's NoSuchElementException
                raise StatusEvicted(f"status store lost job {job_id}") from exc
            rec.jobs += 1
            job_tasks += job.numCompletedTasks() + job.numFailedTasks()
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
    for stage_id in sorted(stage_ids):
        try:
            stage = store.lastStageAttempt(stage_id)
        except Py4JJavaError:
            continue  # evicted; only a skipped one passes the check below
        if stage.status().toString() != "SKIPPED":
            rec.stages += 1
            rec.tasks += stage.numCompleteTasks() + stage.numFailedTasks()
            cpu_ns += stage.executorCpuTime()
            rec.task_run_ms += stage.executorRunTime()
    rec.task_cpu_ms = round(cpu_ns / 1e6)
    if rec.tasks != job_tasks:
        raise StatusEvicted(f"jobs ran {job_tasks} tasks, retained stages {rec.tasks}")
