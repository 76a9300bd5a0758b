"""Self-test of the benchmark's counters.

Two traced passes of the same code, in one session after one warm-up
pass, must report the same number of Spark jobs for every request and
phase. Job counts are what a later change may claim as a count; every
count that does not repeat is printed as unfit for a count claim (and
written to ``.perfbench_work/count_fitness-<workload>.json``) before the
job counts are asserted. No value is pinned, so a change that lowers a
count keeps this test green.

    python3 -m pytest perfbench/test_job_counts.py -s
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402

sys.path.insert(0, str(run.ROOT))


@pytest.mark.parametrize("name", list(run.WORKLOADS))
def test_job_counts_repeat(name: str) -> None:
    from tracing import Tracer

    run_dir = run.WORK / f"selftest-{name}-{os.getpid()}"
    dirs = run.isolate(run_dir)
    try:
        spark, wl, _ = run.open_workload(name, 1, dirs)
        wl.run_pass()
        spark.catalog.clearCache()
        tracer = Tracer(spark)
        first = wl.run_pass(tracer)
        spark.catalog.clearCache()
        second = wl.run_pass(tracer)
    finally:
        run.stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)

    assert not first.errors and not second.errors, first.errors + second.errors
    assert first.counts and first.counts.keys() == second.counts.keys()
    fitness = {
        f"{request}.{key}": {
            "first": value,
            "second": second.counts[request][key],
            "fit_for_count_claim": value == second.counts[request][key],
        }
        for request, counts in first.counts.items()
        for key, value in counts.items()
    }
    run.WORK.mkdir(exist_ok=True)
    (run.WORK / f"count_fitness-{name}.json").write_text(json.dumps(fitness, indent=1))
    for key, rec in fitness.items():
        mark = "fit" if rec["fit_for_count_claim"] else "UNFIT"
        print(f"{name} {key}: {rec['first']} / {rec['second']} {mark}")
    unfit_jobs = [k for k, rec in fitness.items() if k.endswith("_jobs") and not rec["fit_for_count_claim"]]
    assert not unfit_jobs, f"{name}: job counts differ between two traced passes: {unfit_jobs}"
