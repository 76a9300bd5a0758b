"""Differential test: every registered plan vs its DuckDB oracle.

This is the local mirror of the driver's t2 gate (CORRECTNESS_r{N}.json):
run the Spark plan and the oracle SQL over the same parquet, canonicalize,
compare. Plans without an oracle get the driver's weaker rows-only check.
"""

import os

import pytest

from aics_dask_utils_spark.plans import all_plans
from aics_dask_utils_spark.testing import (
    DEFAULT_SF_DIR,
    duckdb_connection,
    run_plan_vs_oracle,
)

PLAN_NAMES = sorted(all_plans())


@pytest.mark.parametrize("name", PLAN_NAMES)
def test_plan_matches_oracle(spark, sf_dir, duck, name):
    run_plan_vs_oracle(spark, name, sf_dir, con=duck)


def test_gate_is_dtype_strict():
    """The local gate must reject int64-vs-float64 column skew even when
    the values compare equal — the driver's value hash distinguishes
    1000 from 1000.0 (round-1 failure class: DuckDB SUM(INTEGER) ->
    HUGEINT -> float64 vs Spark int64)."""
    import pandas as pd

    from aics_dask_utils_spark.testing import assert_frames_match

    ints = pd.DataFrame({"k": ["a", "b"], "v": pd.Series([1000, 7], dtype="int64")})
    floats = pd.DataFrame(
        {"k": ["a", "b"], "v": pd.Series([1000.0, 7.0], dtype="float64")}
    )
    assert_frames_match(ints, ints.copy(), context="same-dtype")
    with pytest.raises(AssertionError, match="dtype skew"):
        assert_frames_match(ints, floats, context="mistyped-oracle")


def test_gate_rejects_array_cells():
    """The local gate must refuse list-typed result cells the way the
    driver does (round-2 failure class: the driver's raw sort_values
    raises `unhashable type: 'list'`; the old local gate tuple-normalized
    lists and passed, masking 6 plans)."""
    import pandas as pd

    from aics_dask_utils_spark.testing import assert_frames_match

    arr = pd.DataFrame({"k": ["a"], "v": [[1, 2, 3]]})
    with pytest.raises(TypeError, match="list-typed result cell"):
        assert_frames_match(arr, arr.copy(), context="array-output")


def test_gate_rejects_decimal_cells():
    """The local gate must refuse Decimal-typed result cells the way the
    driver does (round-5 failure class: scalar_math's DECIMAL(18,4)
    final column hashed as '43683.0600' on Spark vs float64 '43683.06'
    on DuckDB; the old local gate normalized Decimal -> float and
    passed, masking the only red row of the round)."""
    import decimal

    import pandas as pd
    import pytest

    from aics_dask_utils_spark.testing import assert_frames_match

    dec = pd.DataFrame({"k": ["a"], "v": [decimal.Decimal("43683.0600")]})
    with pytest.raises(TypeError, match="Decimal-typed result cell"):
        assert_frames_match(dec, dec.copy(), context="decimal-output")


def test_schema_lint_rejects_decimal_types(spark):
    """A deliberately DECIMAL-returning plan must fail the registry lint
    before it ever reaches the driver (round-5 scalar_math class)."""
    from aics_dask_utils_spark.testing import assert_scalar_schema

    df = spark.range(3).selectExpr("id", "CAST(id AS DECIMAL(18,4)) AS d")
    with pytest.raises(AssertionError, match="decimal-typed final columns"):
        assert_scalar_schema(df.schema, context="synthetic-decimal-plan")
    ok = spark.range(3).selectExpr(
        "id", "CAST(CAST(id AS DECIMAL(18,4)) AS DOUBLE) AS d"
    )
    assert_scalar_schema(ok.schema, context="decimal-cast-to-double-ok")


def test_schema_lint_rejects_complex_types(spark):
    """A deliberately ARRAY-returning plan must fail the registry lint
    before it ever reaches the driver."""
    from aics_dask_utils_spark.testing import assert_scalar_schema

    df = spark.range(3).selectExpr("id", "array(id, id + 1) AS a")
    with pytest.raises(AssertionError, match="complex-typed final columns"):
        assert_scalar_schema(df.schema, context="synthetic-array-plan")
    assert_scalar_schema(spark.range(1).schema, context="scalar-ok")


def _largest_operator_rows(con, sql, profile_path):
    """Largest output cardinality of any operator in DuckDB's JSON
    profile of `sql` (rendered EXPLAIN truncates operator names, so the
    profile tree is read instead)."""
    import json

    con.execute("PRAGMA enable_profiling='json'")
    con.execute(f"PRAGMA profiling_output='{profile_path}'")
    try:
        con.execute(sql).fetchall()
    finally:
        con.execute("PRAGMA disable_profiling")
    with open(profile_path) as f:
        stack, largest = [json.load(f)], 0
    while stack:
        node = stack.pop()
        largest = max(largest, node["cardinality"])
        stack.extend(node["children"])
    return largest


SF001_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")


@pytest.mark.skipif(
    not os.path.exists(os.path.join(SF001_DIR, "lineitem.parquet")),
    reason="needs the sf0.01 tables",
)
@pytest.mark.parametrize(
    "name", ["graph_label_propagation", "graph_pagerank_nations", "q7_nation_volume"]
)
def test_nation_graph_oracles_stay_linear_in_lineitem(tmp_path, name):
    """The oracles that join nation in two roles must never build an
    intermediate larger than lineitem. With a plain (inlined) `edges`
    CTE, DuckDB pushes the LPA oracle's `src <> dst` below the GROUP BY
    and nested-loop-joins customer x supplier: 1,440,519 rows at sf0.01,
    ~144M per copy at sf0.1 — enough to spill the disk full and get the
    test session's JVM OOM-killed. Q7's `n1.n_name <> n2.n_name` took
    the same path at sf0.01 until it moved above the aggregate."""
    con = duckdb_connection(SF001_DIR)
    try:
        n_lineitem = con.execute("SELECT COUNT(*) FROM lineitem").fetchone()[0]
        largest = _largest_operator_rows(
            con, all_plans()[name].oracle, str(tmp_path / "profile.json")
        )
    finally:
        con.close()
    assert largest <= n_lineitem, (
        f"{name} oracle: an operator emits {largest:,} rows, more than the "
        f"{n_lineitem:,} lineitem rows"
    )
