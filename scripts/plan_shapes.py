"""Plan-shape table: one line per registered plan, never executing it.

Usage:
  python scripts/plan_shapes.py SF_DIR [name ...]

SF_DIR may be left out when SPARK_GRAFT_SF_DIR names the data directory.

For every plan (or only the named ones) it builds the DataFrame and prints
tab-separated columns:

  name        the registered plan name
  plan_sha    sha256 (12 hex) of the optimized logical plan, followed by the
              optimized plans of every DataFrame the plan collects, counts,
              checkpoints or writes while it is built (trainer collects,
              CC-star rounds, shortlist checkpoints), in build order
  side_plans  how many such construction-time DataFrames there were
  oracle_sha  sha256 (12 hex) of the DuckDB oracle SQL with whitespace
              collapsed ("-" for rows-only plans)
  chars       length of the physical plan string (it includes file
              paths, so a plan over a pid-named scratch directory can
              move by a char or two between runs)
  exchanges   Exchange / BroadcastExchange nodes in the physical plan
  windows     Window nodes in the physical plan
  smj         SortMergeJoin nodes in the physical plan

Expression ids (``#123``), plan ids (``plan_id=7``), RDD ids, lambda-variable
counters (``x_407``) and generated names (UUIDs, random view-name suffixes)
are renumbered in order of first appearance before hashing or counting, so
two builds of the same plan print the same line in any session. Two plans
are the exception: ``events_chi2_independence`` and
``stream_stream_full_outer_join_exec`` (both plan a distinct-aggregate
Expand) print different hashes in some runs of one commit. Diffing the
output of two checkouts shows which plans a change touched. The session
cache is cleared after each plan, so a persisted relation of one plan never
stands in for another's. Construction still runs the plan's own jobs
(trainers, CC-star), so use a small scale factor (sf0.001 takes minutes).
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aics_dask_utils_spark.plans import all_plans  # noqa: E402
from aics_dask_utils_spark.session import get_spark  # noqa: E402

_IDS = re.compile(r"(#|plan_id=|RDD\[|RDD at \S+ at \S+:|\bid=|lambda [a-z]+_)(\d+)")
# generated names: UUIDs (observation names, stream ids) and the
# 8-hex-digit suffixes of session-unique view names (ssjf_85cf0cee)
_NAMES = re.compile(
    r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"
    r"|(?<=_)[0-9a-f]{8}\b"
)
# the trailing DataFrame id of a CollectMetrics node
_METRICS_DF_ID = re.compile(r"^(.*CollectMetrics .*, )\d+$", re.M)
_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?(\w+)", re.M)


def _normalize(plan: str) -> str:
    seen: dict[tuple[str, str], int] = {}

    def sub(m: re.Match) -> str:
        key = (m.group(1), m.group(2))
        return f"{m.group(1)}{seen.setdefault(key, len(seen))}"

    names: dict[str, int] = {}
    plan = _NAMES.sub(lambda m: f"n{names.setdefault(m.group(0), len(names))}", plan)
    plan = _METRICS_DF_ID.sub(r"\g<1>0", plan)
    return _IDS.sub(sub, plan)


def _short_sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:12]


def _record_side_plans(side: list[str]) -> None:
    """Record the optimized plan of every DataFrame that is acted on."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    def wrap(cls, name, get_df):
        orig = getattr(cls, name)

        def wrapped(self, *a, **kw):
            side.append(get_df(self)._jdf.queryExecution().optimizedPlan().toString())
            return orig(self, *a, **kw)

        setattr(cls, name, wrapped)

    for name in ("collect", "count", "toPandas", "toLocalIterator",
                 "localCheckpoint", "checkpoint"):
        wrap(DataFrame, name, lambda df: df)
    for name in ("save", "parquet"):
        wrap(DataFrameWriter, name, lambda w: w._df)


def shape_line(spark, name: str, spec, sf_dir: str, side: list[str]) -> str:
    side.clear()
    df = spec.fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    logical = "\n".join([qe.optimizedPlan().toString(), *side])
    physical = _normalize(qe.executedPlan().toString())
    nodes = _NODE.findall(physical)
    oracle = "-" if spec.oracle is None else _short_sha(" ".join(spec.oracle.split()))
    return "\t".join(str(v) for v in (
        name,
        _short_sha(_normalize(logical)),
        len(side),
        oracle,
        len(physical),
        sum(n.endswith("Exchange") for n in nodes),
        nodes.count("Window"),
        nodes.count("SortMergeJoin"),
    ))


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else os.environ[
        "SPARK_GRAFT_SF_DIR"
    ]
    plans = all_plans()
    names = args or sorted(plans)
    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    side: list[str] = []
    _record_side_plans(side)
    print("name\tplan_sha\tside_plans\toracle_sha\tchars\texchanges\twindows\tsmj")
    failed = 0
    try:
        for name in names:
            try:
                print(shape_line(spark, name, plans[name], sf_dir, side), flush=True)
            except Exception as ex:  # keep going: one broken plan is one line
                failed += 1
                print(f"{name}\tERROR\t{type(ex).__name__}: {str(ex)[:200]}", flush=True)
            spark.catalog.clearCache()
    finally:
        spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
