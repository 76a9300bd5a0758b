"""Spans and Spark job accounting for traced runs.

Spans are recorded by the benchmark around its own calls into the
engine's public functions; nothing inside the engine is instrumented.
Each phase of a request runs under its own Spark job group, and right
after the phase the job group's jobs, stages and tasks are read from
the application status store, once the listener bus has delivered every
event (reading before that is what makes stage and task counts drift
between identical runs).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, fields

from pyspark.sql import SparkSession


@dataclass
class JobCounts:
    """What one or more job groups did, summed over their jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0  # executor run time summed over tasks
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_durations_s: tuple[float, ...] = ()

    def __add__(self, other: "JobCounts") -> "JobCounts":
        return JobCounts(
            **{f.name: getattr(self, f.name) + getattr(other, f.name) for f in fields(self)}
        )


class StatusReader:
    """Reads job groups back from the application's ``AppStatusStore``."""

    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = self._sc._jvm
        self._no_task_status = jvm.java.util.ArrayList()
        self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    def read(self, group: str) -> JobCounts:
        self._bus.waitUntilEmpty()
        out = JobCounts()
        stage_ids: set[int] = set()
        durations = []
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            out.jobs += 1
            seq = job.stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                durations.append((done.get().getTime() - sub.get().getTime()) / 1000.0)
        out.job_durations_s = tuple(durations)
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(
                sid, False, self._no_task_status, False, self._no_quantiles
            )
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numTasks()
                out.failed_tasks += st.numFailedTasks()
                out.run_s += st.executorRunTime() / 1000.0
                out.input_bytes += st.inputBytes()
                out.output_bytes += st.outputBytes()
                out.shuffle_read_bytes += st.shuffleReadBytes()
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += st.diskBytesSpilled()
        return out


class Tracer:
    """Spans kept in memory and written out once, when the run ends."""

    def __init__(self, spark: SparkSession):
        self.status = StatusReader(spark)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, request: str, group: str | None = None):
        """Time a call and yield its span record, which gets ``seconds``
        when the call returns. With ``group``, the call's Spark jobs run
        under that job group."""
        rec = {
            "name": name,
            "request": request,
            "parent": self._stack[-1] if self._stack else None,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        if group is not None:
            self.status.set_group(group)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            if group is not None:
                self.status.set_group(None)
            self._stack.pop()
            rec.update(start=start - self._t0, end=end - self._t0, seconds=end - start)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
