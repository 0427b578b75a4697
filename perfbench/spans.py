"""Spans around calls into the engine's layers, recorded from outside.

A span covers one public call into a layer: its name, start, end, parent
span and job id, the driver time spent inside the layer's plan-building
calls (``plan_s``, Py4J round trips before any action), the rest of the
span (``exec_s``), the tasks and failed tasks of the Spark jobs it ran
(each span runs under its own Spark job group, read back through
``statusTracker()``), and the CPU the driver JVM and its Python workers
used (read from ``/proc``).

With tracing off, :class:`Tracer` hands out no-op spans and
:meth:`Span.materialize` returns its frame untouched, so the traced and
untraced jobs run the same code. With tracing on, ``materialize``
persists the layer's output and forces it with ``checksum_count``, so the
next layer's span measures only its own work.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from big_data_science_project_spark.functions.actions import checksum_count

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from the ppid field of
    ``/proc/<pid>/stat``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(jvm_pid: int) -> tuple[float, float]:
    """(JVM CPU, Python worker CPU) in seconds. Worker CPU includes the
    reaped children of each worker process (the PySpark daemon forks and
    reaps its workers)."""
    jvm = py = 0
    for pid in process_tree(jvm_pid):
        fields = _stat_fields(pid)
        if fields is None:
            continue
        # fields[11..14] = utime stime cutime cstime (stat fields 14-17)
        if pid == jvm_pid:
            jvm = int(fields[11]) + int(fields[12])
        else:
            py += sum(int(f) for f in fields[11:15])
    return jvm / _TICK, py / _TICK


class Span:
    """One layer call. ``planning`` times plan-building calls, ``phase``
    times named sub-steps (e.g. ``fit_s``), ``count`` adds to counters and
    ``materialize`` forces the layer's output."""

    def __init__(self, tracer: "Tracer", name: str, parent: "Span | None"):
        self.tracer = tracer
        self.name = name
        self.parent = parent
        self.id = len(tracer.spans)
        self.group = f"perfbench-{tracer.job_id}-{self.id}-{name}"
        self.start = self.end = None
        self.plan_s = 0.0
        self.counts: dict[str, float] = {}
        self.phases: dict[str, float] = {}
        self.cpu0 = (0.0, 0.0)
        self.record: dict = {}

    @contextmanager
    def planning(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.plan_s += time.perf_counter() - t0

    def materialize(self, df: DataFrame) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.tracer.persisted.append(df)
        rows, _ = checksum_count(df)
        self.count(rows=rows)
        return df

    def count(self, **counts: float) -> None:
        for k, v in counts.items():
            self.counts[k] = self.counts.get(k, 0) + v

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) \
                + time.perf_counter() - t0


class _NoSpan:
    """Stand-in when tracing is off: same interface, no effect."""

    @contextmanager
    def planning(self):
        yield

    def materialize(self, df: DataFrame) -> DataFrame:
        return df

    def count(self, **counts: float) -> None:
        pass

    @contextmanager
    def phase(self, name: str):
        yield


class Tracer:
    """Collects spans of one process. ``enabled`` is switched per job, so
    traced and untraced jobs can alternate in one session."""

    def __init__(self, spark: SparkSession, jvm_pid: int):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.enabled = False
        self.job_id = 0
        self.spans: list[Span] = []
        self.persisted: list[DataFrame] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield _NoSpan()
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(self, name, parent)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.cpu0 = cpu_seconds(self.jvm_pid)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            cpu1 = cpu_seconds(self.jvm_pid)
            sp.record["jvm_cpu_s"] = cpu1[0] - sp.cpu0[0]
            sp.record["py_cpu_s"] = cpu1[1] - sp.cpu0[1]
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def release(self) -> None:
        """Unpersist what ``materialize`` cached during the job."""
        for df in self.persisted:
            df.unpersist(blocking=True)
        self.persisted.clear()

    def finish_job(self, job_spans: list[Span], timeout: float = 5.0) -> None:
        """Attribute Spark tasks to the job's spans once the status store
        has seen every stage of their job groups end, then fill each
        span's record."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout
        while True:
            stats = {sp.id: self._group_tasks(tracker, sp.group)
                     for sp in job_spans}
            settled = all(s is not None for s in stats.values())
            if settled or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        cores = self.sc.defaultParallelism
        for sp in job_spans:
            tasks, failed = stats[sp.id] or (-1, -1)
            t_exec = sp.end - sp.start - sp.plan_s
            child = sum(c.end - c.start for c in job_spans if c.parent is sp)
            cpu = sp.record["jvm_cpu_s"] + sp.record["py_cpu_s"]
            sp.record.update({
                "name": sp.name, "span_id": sp.id, "job_id": self.job_id,
                "parent": sp.parent.id if sp.parent else None,
                "start": sp.start, "end": sp.end,
                "plan_s": sp.plan_s, "exec_s": t_exec,
                "self_s": sp.end - sp.start - child,
                "tasks": tasks, "tasks_failed": failed,
                "cpu_util": cpu / (t_exec * cores) if t_exec > 0 else 0.0,
                **sp.phases, **sp.counts})

    @staticmethod
    def _group_tasks(tracker, group: str) -> tuple[int, int] | None:
        """(completed tasks, failed tasks) over the group's jobs, or None
        while any of its jobs or stages is still running."""
        tasks = failed = 0
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None or info.status == "RUNNING":
                return None
            for stage_id in info.stageIds:
                st = tracker.getStageInfo(stage_id)
                if st is None:
                    continue  # skipped stage: its output was reused
                if st.numActiveTasks:
                    return None
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return tasks, failed
