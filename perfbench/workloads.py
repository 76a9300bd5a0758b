"""The benchmark's workloads: one closed-loop client, one Spark session.

A *pass* runs every request of a workload once. Untraced passes only
time the calls. Traced passes wrap each public call in a span, run its
Spark jobs under a job group and read the per-layer counts back from the
status store; see ``tracing.py``.
"""

from __future__ import annotations

import random
import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Any

from pyspark import cloudpickle
from pyspark.sql import SparkSession

import etl
from tracing import JobCounts, Tracer

cloudpickle.register_pickle_by_value(etl)

# Every per-layer metric a traced pass reports, with its unit. Layers a
# workload does not exercise read 0.
LAYER_UNITS = {
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.construct_stages": "count",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "plans.plan_chars": "chars",
    "operators.exec_s": "s",
    "operators.exec_jobs": "count",
    "operators.exec_stages": "count",
    "operators.exec_tasks": "count",
    "operators.shuffle_write_bytes": "B",
    "operators.shuffle_read_bytes": "B",
    "operators.spill_bytes": "B",
    "operators.busy_s": "s",
    "operators.busy_frac": "frac",
    "operators.failed_tasks": "count",
    "sources.input_bytes": "B",
    "sources.output_bytes": "B",
    "handler.map_s": "s",
    "handler.gather_s": "s",
    "handler.batched_s": "s",
    "handler.batched_jobs": "count",
    "handler.job_s": "s",
}


@dataclass
class Pass:
    seconds: float
    items: int
    results: list[tuple[str, Any]] = field(default_factory=list)  # (request, output)
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)  # traced passes only
    counts: dict[str, dict[str, int]] = field(default_factory=dict)  # per request


def _totals(layers: dict, total: JobCounts, cores: int, wall: float) -> None:
    """Per-pass layer values summed over every job of the pass."""
    layers["operators.busy_s"] = total.run_s
    layers["operators.busy_frac"] = total.run_s / (cores * wall)
    layers["operators.failed_tasks"] = total.failed_tasks
    layers["sources.input_bytes"] = total.input_bytes
    layers["sources.output_bytes"] = total.output_bytes


class QueryWorkload:
    """A mix of registered plans; each request builds one plan and
    collects its result (``toPandas``, the same action the oracle
    harness uses)."""

    def __init__(self, spark: SparkSession, data_dir: str, mix: tuple[str, ...], seed: int):
        from aics_dask_utils_spark.plans import all_plans

        registry = all_plans()
        self.spark = spark
        self.data_dir = data_dir
        self.specs = {name: registry[name] for name in mix}
        self.cores = spark.sparkContext.defaultParallelism
        # The seed sets one order for every pass of the run: a plan can
        # reuse what an earlier plan of the same pass left cached, so
        # passes in one order do the same work and give the same counts.
        self.order = list(mix)
        random.Random(seed).shuffle(self.order)
        self._n = 0
        self.serial_s = 0.0  # no serial baseline: results are checked against oracles

    def run_pass(self, tracer: Tracer | None = None) -> Pass:
        if tracer is not None:
            return self._traced_pass(tracer)
        out = Pass(seconds=0.0, items=len(self.order))
        t0 = time.perf_counter()
        for name in self.order:
            try:
                out.results.append((name, self.specs[name].fn(self.spark, self.data_dir).toPandas()))
            except Exception:  # a failed request is counted, the loop goes on
                out.errors.append(f"{name}: {traceback.format_exc()}")
        out.seconds = time.perf_counter() - t0
        return out

    def _traced_pass(self, tr: Tracer) -> Pass:
        out = Pass(seconds=0.0, items=len(self.order))
        lay = out.layers = dict.fromkeys(LAYER_UNITS, 0.0)
        total = JobCounts()
        t0 = time.perf_counter()
        for name in self.order:
            self._n += 1
            rid = f"q{self._n}:{name}"
            groups = {ph: f"{rid}:{ph}" for ph in ("construct", "plan", "exec")}
            try:
                with tr.span("request", rid):
                    with tr.span("plans.construct", rid, groups["construct"]) as sc:
                        df = self.specs[name].fn(self.spark, self.data_dir)
                    with tr.span("plans.plan", rid, groups["plan"]) as sp:
                        plan = df._jdf.queryExecution().executedPlan().toString()
                    with tr.span("operators.exec", rid, groups["exec"]) as se:
                        pdf = df.toPandas()
            except Exception:
                out.errors.append(f"{name}: {traceback.format_exc()}")
                continue
            out.results.append((name, pdf))
            built = tr.status.read(groups["construct"])
            ran = tr.status.read(groups["plan"]) + tr.status.read(groups["exec"])
            total = total + built + ran
            out.counts[name] = {
                "construct_jobs": built.jobs,
                "exec_jobs": ran.jobs,
                "construct_stages": built.stages,
                "exec_stages": ran.stages,
                "exec_tasks": ran.tasks,
            }
            lay["plans.construct_s"] += sc["seconds"]
            lay["plans.construct_jobs"] += built.jobs
            lay["plans.construct_stages"] += built.stages
            lay["plans.plan_s"] += sp["seconds"]
            lay["plans.exchanges"] += sum(
                1 for line in plan.splitlines() if "Exchange" in line
            )
            lay["plans.plan_chars"] += len(plan)
            lay["operators.exec_s"] += se["seconds"]
            lay["operators.exec_jobs"] += ran.jobs
            lay["operators.exec_stages"] += ran.stages
            lay["operators.exec_tasks"] += ran.tasks
            lay["operators.shuffle_write_bytes"] += ran.shuffle_write_bytes
            lay["operators.shuffle_read_bytes"] += ran.shuffle_read_bytes
            lay["operators.spill_bytes"] += ran.spill_bytes
        out.seconds = time.perf_counter() - t0
        _totals(lay, total, self.cores, out.seconds)
        return out

    def check(self, passes: list[Pass]) -> tuple[int, list[str]]:
        """Compare every collected result to its DuckDB oracle at zero
        tolerance. Returns (wrong results, messages)."""
        from aics_dask_utils_spark import testing

        con = testing.duckdb_connection(self.data_dir)
        try:
            oracle = {n: con.execute(s.oracle).fetchdf() for n, s in self.specs.items()}
        finally:
            con.close()
        wrong, msgs = 0, []
        for p in passes:
            for name, pdf in p.results:
                try:
                    testing.assert_frames_match(pdf, oracle[name], context=name)
                except (AssertionError, TypeError) as e:  # TypeError: uncomparable cells
                    wrong += 1
                    msgs.append(str(e))
        return wrong, msgs


class HandlerWorkload:
    """The reference's ETL shape through ``SparkHandler``: each pass
    runs the items through ``batched_map`` on the default one-job path
    and on explicit batches of ``batch_size`` (one job per batch)."""

    def __init__(self, spark: SparkSession, ids: list[int], seeds: list[int], batch_size: int):
        from aics_dask_utils_spark import SparkHandler

        self.handler = SparkHandler(spark=spark)
        self.ids, self.seeds = ids, seeds
        self.batch_size = batch_size
        self.cores = spark.sparkContext.defaultParallelism
        self.serial_s = 0.0
        self._n = 0

    def run_pass(self, tracer: Tracer | None = None) -> Pass:
        if tracer is not None:
            return self._traced_pass(tracer)
        h = self.handler
        out = Pass(seconds=0.0, items=2 * len(self.ids))
        t0 = time.perf_counter()
        try:
            out.results.append(("one_job", h.batched_map(etl.etl_item, self.ids, self.seeds)))
            out.results.append(
                ("batched", h.batched_map(etl.etl_item, self.ids, self.seeds, batch_size=self.batch_size))
            )
        except Exception:
            out.errors.append(traceback.format_exc())
        out.seconds = time.perf_counter() - t0
        return out

    def _traced_pass(self, tr: Tracer) -> Pass:
        h = self.handler
        self._n += 1
        rid = f"h{self._n}"
        out = Pass(seconds=0.0, items=2 * len(self.ids))
        lay = out.layers = dict.fromkeys(LAYER_UNITS, 0.0)
        groups = {ph: f"{rid}:{ph}" for ph in ("map", "gather", "batched")}
        t0 = time.perf_counter()
        try:
            with tr.span("request", rid):
                # batched_map's default path is exactly map then gather;
                # calling them apart times each side.
                with tr.span("handler.map", rid, groups["map"]) as sm:
                    deferred = h.map(etl.etl_item, self.ids, self.seeds)
                with tr.span("handler.gather", rid, groups["gather"]) as sg:
                    out.results.append(("one_job", h.gather(deferred)))
                with tr.span("handler.batched_map", rid, groups["batched"]) as sb:
                    out.results.append(
                        ("batched", h.batched_map(etl.etl_item, self.ids, self.seeds, batch_size=self.batch_size))
                    )
        except Exception:
            out.errors.append(traceback.format_exc())
        out.seconds = time.perf_counter() - t0
        if out.errors:
            return out
        one = tr.status.read(groups["map"]) + tr.status.read(groups["gather"])
        batched = tr.status.read(groups["batched"])
        total = one + batched
        out.counts["handler"] = {"one_job_jobs": one.jobs, "batched_jobs": batched.jobs}
        lay["handler.map_s"] = sm["seconds"]
        lay["handler.gather_s"] = sg["seconds"]
        lay["handler.batched_s"] = sb["seconds"]
        lay["handler.batched_jobs"] = batched.jobs
        lay["handler.job_s"] = statistics.median(total.job_durations_s)
        _totals(lay, total, self.cores, out.seconds)
        return out

    def check(self, passes: list[Pass]) -> tuple[int, list[str]]:
        """Compare every result to a serial-Python run of the same ETL,
        timed as ``serial_s``. Returns (wrong results, messages)."""
        t0 = time.perf_counter()
        baseline = [etl.etl_item(i, s) for i, s in zip(self.ids, self.seeds)]
        self.serial_s = time.perf_counter() - t0
        wrong, msgs = 0, []
        for p in passes:
            for name, got in p.results:
                if got != baseline:
                    wrong += 1
                    msgs.append(f"handler {name}: result differs from the serial baseline")
        return wrong, msgs
