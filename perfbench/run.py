#!/usr/bin/env python3
"""Closed-loop benchmark of the engine, one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

``NAME`` is one of ``WORKLOADS`` below, or ``all`` to run each of them
in turn, each in its own process. Run it from the root of a checkout:
it imports the engine from there and keeps everything it writes under
``.perfbench_work/`` there.

One client drives one local Spark session (``local[<cores>]``) in a
closed loop. A run:

1. starts the session, writes the seeded inputs and runs warm-up passes
   (together ``setup_s``);
2. runs timed passes until ``--seconds`` have elapsed and at least the
   workload's ``passes`` are done; with ``--trace 1`` untraced and
   traced passes alternate, and the per-layer numbers come from the
   traced ones;
3. reads peak memory (``VmHWM`` of the JVM plus this process), then
   checks every output of every pass, warm-up included: query results
   against their DuckDB oracles at zero tolerance, handler results
   against the serial-Python baseline.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. It holds the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``. The exit code is 0 when a result was printed, 2 when the
engine is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

MIN_TRACED_PASSES = 2  # of each kind, untraced and traced, in a traced run

# Every run starts a cold JVM, and a query pass runs dozens of small
# Spark jobs, so a cold pass costs 15-30 s and the pass time keeps
# falling for several more (``warmup`` is set where it flattens). The
# mixes and input sizes are the largest whose runs (start, warm-up, timed
# passes and checks) take about a minute; ``hybrid_search`` takes two and
# is not a listed workload. See README.md for what was left out.
WORKLOADS: dict[str, dict] = {
    "dedup_retention": {
        "mix": ("pipeline_retention_materialize",),
        "docs": 1000,
        "vectors": 1000,
        "warmup": 5,
        "passes": 5,
    },
    "hybrid_search": {
        "mix": ("search_hybrid_rrf_batch", "ann_topk_ivfpq"),
        "docs": 1000,
        "vectors": 1000,
        "warmup": 2,
        "passes": 4,
    },
    "handler_etl": {"items": 10_000, "batch_size": 1000, "warmup": 1, "passes": 5},
}


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def isolate(run_dir: Path) -> dict[str, str]:
    """Point every directory Spark and the engine write to into ``run_dir``."""
    dirs = {k: run_dir / k for k in ("local", "tmp", "warehouse", "sink", "data")}
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["local"])
    os.environ["TMPDIR"] = tempfile.tempdir = str(dirs["tmp"])
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(dirs["warehouse"])
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']}"
    return {k: str(v) for k, v in dirs.items()}


def stop_spark() -> None:
    """Stop the active Spark context, then the JVM it launched, and wait
    for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def open_workload(name: str, seed: int, dirs: dict[str, str]):
    """Start the session and prepare the workload's inputs.

    Returns ``(spark, workload, session_start_s)``."""
    import datagen
    import workloads as W
    from aics_dask_utils_spark.session import get_spark

    cfg = WORKLOADS[name]
    cores = _cores()
    t0 = time.perf_counter()
    spark = get_spark(
        master=f"local[{cores}]",
        app_name=f"perfbench-{name}",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
        },
    )
    start_s = time.perf_counter() - t0
    if "mix" not in cfg:
        ids, seeds = datagen.handler_items(seed, cfg["items"])
        return spark, W.HandlerWorkload(spark, ids, seeds, cfg["batch_size"]), start_s
    from aics_dask_utils_spark.plans import all_plans, sources_plans

    all_plans()
    # The materializing plan stages its sink under /tmp by default.
    sources_plans._tmp = lambda sf_dir, fmt: os.path.join(dirs["sink"], fmt)
    datagen.write_tables(dirs["data"], seed, cfg["docs"], cfg["vectors"])
    return spark, W.QueryWorkload(spark, dirs["data"], cfg["mix"], seed), start_s


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import workloads as W
    from tracing import Tracer

    cfg = WORKLOADS[name]
    run_dir = WORK / f"{name}-{os.getpid()}"
    dirs = isolate(run_dir)
    try:
        t0 = time.perf_counter()
        spark, wl, start_s = open_workload(name, seed, dirs)
        warm = []
        for _ in range(cfg["warmup"]):
            warm.append(wl.run_pass())
            spark.catalog.clearCache()
            _log(f"{name}: warm-up pass {warm[-1].seconds:.2f} s")
        setup_s = time.perf_counter() - t0

        tracer = Tracer(spark) if trace else None
        timed, traced = [], []
        t1 = time.perf_counter()
        while True:
            use_tracer = trace and len(traced) < len(timed)
            p = wl.run_pass(tracer if use_tracer else None)
            spark.catalog.clearCache()
            (traced if use_tracer else timed).append(p)
            _log(f"{name}: {'traced' if use_tracer else 'timed'} pass {p.seconds:.2f} s")
            enough = len(timed) >= (MIN_TRACED_PASSES if trace else cfg["passes"]) and (
                not trace or len(traced) >= MIN_TRACED_PASSES
            )
            if enough and time.perf_counter() - t1 >= seconds:
                break
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb(os.getpid())

        passes = warm + timed + traced
        wrong, msgs = wl.check(passes)
        errors = [e for p in passes for e in p.errors]
        for m in errors + msgs:
            _log(f"{name}: FAILED {m}")
        attempted = sum(len(p.results) + len(p.errors) for p in passes)
        failed = len(errors) + wrong

        # Peak memory is reported, not bounded: the JVM's heap grows by
        # GC ergonomics, and VmHWM of identical runs ranges 2.9-5.0 GB.
        shown = {"peak_rss_mb": (peak_rss_mb, "MB"), "error_rate": (failed / attempted, "frac")}
        if trace:
            WORK.joinpath("traces").mkdir(parents=True, exist_ok=True)
            trace_path = WORK / "traces" / f"{name}-seed{seed}-{os.getpid()}.json"
            tracer.write(str(trace_path))
            _log(f"{name}: spans written to {trace_path}")
            metrics = {"session.start_s": (start_s, "s")}
            for key, unit in W.LAYER_UNITS.items():
                metrics[key] = (statistics.median(p.layers[key] for p in traced), unit)
            metrics["handler.serial_s"] = (wl.serial_s, "s")
            metrics["peak_rss_mb"] = shown.pop("peak_rss_mb")
            metrics["tracing.overhead_frac"] = (
                statistics.median(p.seconds for p in traced)
                / statistics.median(p.seconds for p in timed)
                - 1.0,
                "frac",
            )
        else:
            pass_p50_s = statistics.median(p.seconds for p in timed)
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_p50_s": (pass_p50_s, "s"),
                "items_per_s": (timed[0].items / pass_p50_s, "1/s"),
            }
        print(f"{name}: {len(timed)} timed passes, {len(traced)} traced, {attempted} requests checked")
        for key, (value, unit) in {**metrics, **shown}.items():
            print(f"  {key:32s} {value:.6g} {unit}")
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "aics_dask_utils_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    if args.workload != "all":
        print(json.dumps(run_workload(args.workload, args.seed, args.seconds, bool(args.trace))))
        return 0

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
        *lines, last = out.splitlines()
        print("\n".join(lines), flush=True)
        res = json.loads(last)
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for key, m in res["metrics"].items():
            total["metrics"][f"{name}/{key}"] = m
    print(json.dumps(total))
    return 0


if __name__ == "__main__":
    sys.exit(main())
