"""Probes the benchmark reads from outside the engine: the ``/proc``
process tree (CPU and memory of the Python driver, the JVM and the
PySpark workers) and Spark's status store (jobs, stages, tasks, SQL
executions)."""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, fields

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _stat(pid: int) -> tuple[int, list[str]] | None:
    """(ppid, fields after the command name) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), rest


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


@dataclass
class TreeSample:
    """CPU seconds (own plus reaped children) and resident memory of a
    process tree, split into the driver, the JVM and Python workers."""

    driver_cpu: float = 0.0
    jvm_cpu: float = 0.0
    worker_cpu: float = 0.0
    rss_mb: float = 0.0

    @property
    def cpu(self) -> float:
        return self.driver_cpu + self.jvm_cpu + self.worker_cpu

    def __sub__(self, other: "TreeSample") -> "TreeSample":
        return TreeSample(
            *(getattr(self, f.name) - getattr(other, f.name) for f in fields(self))
        )


class ProcTree:
    """The process tree rooted at this Python process. A process that
    exits while the tree runs is counted through its parent's reaped
    children time, so deltas between two samples lose no CPU as long as
    the reaper is still alive."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        parent = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    parent[int(name)] = st[0]
        tree, frontier = [self.root], [self.root]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree.extend(frontier)
        return tree

    def sample(self) -> TreeSample:
        out = TreeSample()
        for pid in self.pids():
            st = _stat(pid)
            if st is None:
                continue
            rest = st[1]
            # utime stime cutime cstime are fields 14-17 of /proc/pid/stat
            cpu = sum(int(x) for x in rest[11:15]) / CLK_TCK
            comm = _comm(pid)
            # a child the JVM forks to exec a helper (chmod, readlink)
            # briefly maps the JVM's whole memory: count only real engines
            if pid == self.root or comm == "java" or comm.startswith("python"):
                out.rss_mb += int(rest[21]) * PAGE_MB
            if pid == self.root:
                out.driver_cpu += cpu
            elif comm == "java":
                out.jvm_cpu += cpu
            else:
                out.worker_cpu += cpu
        return out


class PeakRss:
    """Background sampler of the tree's total resident memory; ``peak_mb``
    is the largest sum seen between ``start`` and ``stop``."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.1):
        self.tree, self.interval_s = tree, interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.tree.sample().rss_mb)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")


#: Status-store retention raised so no job, stage, task or SQL execution
#: of a run is evicted before the benchmark reads it.
RETENTION_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.ui.retainedTasks": "10000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}


@dataclass
class ExecStats:
    """Status-store totals over a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_cpu_s: float = 0.0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0

    def __add__(self, other: "ExecStats") -> "ExecStats":
        return ExecStats(
            *(getattr(self, f.name) + getattr(other, f.name) for f in fields(self))
        )

    def as_dict(self) -> dict:
        return {f.name: getattr(self, f.name) for f in fields(self)}


class StatusStore:
    """Reads the jobs of one job group from Spark's status store. Each
    traced build or action runs under its own group, so its jobs,
    stages and task metrics are read exactly, without differencing
    session-wide totals."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = self.sql_executions()
        self._group = 0

    def sql_executions(self) -> int:
        return int(self.sql_store.executionsCount())

    def sql_delta(self) -> int:
        """SQL executions started since the previous call. Fails loudly
        when the count falls, which only retention eviction can do."""
        now = self.sql_executions()
        delta, self._sql_seen = now - self._sql_seen, now
        if delta < 0:
            raise RuntimeError(f"status store lost {-delta} SQL executions to eviction")
        return delta

    def new_group(self, label: str) -> str:
        self._group += 1
        group = f"perfbench-{self._group}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def group_stats(self, group: str) -> ExecStats:
        out = ExecStats()
        stage_ids = set()
        for job_id in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(job_id)
            if info is None:
                raise RuntimeError(f"status store lost job {job_id} to eviction")
            out.jobs += 1
            stage_ids.update(info.stageIds)
        for stage_id in sorted(stage_ids):
            try:
                st = self.store.lastStageAttempt(stage_id)
            except Exception as exc:  # py4j wraps the JVM NoSuchElementException
                raise RuntimeError(f"status store lost stage {stage_id}: {exc}") from exc
            if st.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += st.numCompleteTasks() + st.numFailedTasks()
            out.failed_tasks += st.numFailedTasks()
            out.task_cpu_s += st.executorCpuTime() / 1e9
            out.task_run_s += st.executorRunTime() / 1e3
            out.gc_s += st.jvmGcTime() / 1e3
            out.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
            out.shuffle_read_mb += st.shuffleReadBytes() / 2**20
            out.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        return out

    def clear_group(self) -> None:
        self.sc.setJobGroup("perfbench-untraced", "untraced")
