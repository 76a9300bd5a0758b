"""Property tests for the distributed-statistics operators
(`operators/stats.py`) on hypothesis-generated frames, checked against
independent numpy/pandas recomputation. The registry plans pin the
same operators against DuckDB oracles on the driver tables; these
tests cover arbitrary data shapes the fixed tables cannot."""

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aics_dask_utils_spark.operators.stats import (
    binned_ecdf_drift,
    cap_per_key,
    welch_ttest,
)

# 2-dp values: exactly representable in decimal(18,2) and spanning the
# drift grid INCLUDING both absorbing edges (negatives clamp into bin 0,
# the tail into the last bin).
_val2dp = st.integers(min_value=-10000, max_value=59999).map(lambda i: i / 100.0)


def _drift_numpy(a, b, bin_width=5.0, n_bins=100):
    ba = np.clip(np.floor(np.asarray(a) / bin_width).astype(int), 0, n_bins - 1)
    bb = np.clip(np.floor(np.asarray(b) / bin_width).astype(int), 0, n_bins - 1)
    ca = np.bincount(ba, minlength=n_bins).astype(float)
    cb = np.bincount(bb, minlength=n_bins).astype(float)
    ks = float(np.max(np.abs(np.cumsum(ca) / len(a) - np.cumsum(cb) / len(b))))
    present = (ca + cb) > 0
    pa = (ca[present] + 0.5) / (len(a) + 0.5 * n_bins)
    pb = (cb[present] + 0.5) / (len(b) + 0.5 * n_bins)
    psi = float(np.sum((pa - pb) * np.log(pa / pb)))
    return ks, psi


@given(
    a=st.lists(_val2dp, min_size=1, max_size=80),
    b=st.lists(_val2dp, min_size=1, max_size=80),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_drift_matches_numpy_on_random_frames(spark, a, b):
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "grp string, value double")
    got = binned_ecdf_drift(df, "value", "grp", "a", "b").collect()[0]
    ks, psi = _drift_numpy(a, b)
    assert got["n_a"] == len(a) and got["n_b"] == len(b)
    assert math.isclose(got["ks_d"], ks, rel_tol=0, abs_tol=1e-8)
    assert math.isclose(got["psi"], psi, rel_tol=0, abs_tol=2e-6)
    assert 0.0 <= got["ks_d"] <= 1.0 and got["psi"] >= 0.0


def test_drift_identical_samples_is_zero(spark):
    rows = [(g, float(v)) for g in ("a", "b") for v in (1.0, 7.25, 499.9, 600.0)]
    df = spark.createDataFrame(rows, "grp string, value double")
    got = binned_ecdf_drift(df, "value", "grp", "a", "b").collect()[0]
    assert got["ks_d"] == 0.0 and got["psi"] == 0.0


@given(
    ctrl=st.lists(_val2dp, min_size=2, max_size=60),
    arms=st.dictionaries(
        st.sampled_from(["x", "y", "z"]),
        st.lists(_val2dp, min_size=2, max_size=60),
        min_size=1,
        max_size=3,
    ),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_welch_matches_numpy_on_random_frames(spark, ctrl, arms):
    rows = [("ctrl", float(v)) for v in ctrl]
    for name, vs in arms.items():
        rows += [(name, float(v)) for v in vs]
    df = spark.createDataFrame(rows, "variant string, value double")
    out = welch_ttest(df, "value", "variant", "ctrl").toPandas()
    assert list(out["variant"]) == sorted(arms)
    base = np.asarray(ctrl)
    nb, mb, vb = len(base), base.mean(), base.var(ddof=1)
    for _, r in out.iterrows():
        arm = np.asarray(arms[r["variant"]])
        na, ma, va = len(arm), arm.mean(), arm.var(ddof=1)
        se2 = va / na + vb / nb
        assert r["n_a"] == na and r["n_b"] == nb
        assert math.isclose(
            r["mean_diff"], ma - mb, rel_tol=0, abs_tol=1e-5
        )
        if se2 > 0:
            t = (ma - mb) / math.sqrt(se2)
            assert math.isclose(r["t_stat"], t, rel_tol=1e-4, abs_tol=1e-4)
            denom = (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)
            if denom > 0:
                assert math.isclose(
                    r["df"], se2**2 / denom, rel_tol=1e-4, abs_tol=1e-4
                )
        else:
            # Zero variance both sides: try_divide -> NULL (NaN here).
            assert pd.isna(r["t_stat"])


def test_welch_singleton_group_yields_null_not_error(spark):
    rows = [("ctrl", 1.0), ("ctrl", 2.0), ("solo", 5.0)]
    df = spark.createDataFrame(rows, "variant string, value double")
    out = welch_ttest(df, "value", "variant", "ctrl").collect()
    assert len(out) == 1 and out[0]["variant"] == "solo"
    # (n-1)=0 -> try_divide -> NULL, never an ANSI DIVIDE_BY_ZERO.
    assert out[0]["t_stat"] is None and out[0]["df"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2", "k3"]),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(min_value=1, max_value=4),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cap_per_key_matches_pandas(spark, rows, k):
    from pyspark.sql import functions as F

    data = [(key, val, i) for i, (key, val) in enumerate(rows)]
    df = spark.createDataFrame(data, "key string, val long, uid long")
    kept = cap_per_key(
        df, ["key"], [F.col("val").desc(), F.col("uid")], k
    ).toPandas()
    pdf = pd.DataFrame(data, columns=["key", "val", "uid"])
    want = (
        pdf.sort_values(["key", "val", "uid"], ascending=[True, False, True])
        .groupby("key")
        .head(k)
    )
    assert set(kept["uid"]) == set(want["uid"])
    assert (kept.groupby("key").size() <= k).all()


def test_drift_with_absent_sample_degrades_not_errors(spark):
    # Label 'b' absent: n_b = 0. ANSI would throw on the /0 without the
    # try_divide guard; the operator degrades (ks_d 0.0, NULL-free) and
    # the caller sees n_b == 0 to interpret it.
    rows = [("a", float(v)) for v in (1.0, 7.5, 320.0)]
    df = spark.createDataFrame(rows, "grp string, value double")
    got = binned_ecdf_drift(df, "value", "grp", "a", "b").collect()[0]
    assert got["n_a"] == 3 and got["n_b"] == 0
    assert got["ks_d"] == 0.0


def test_drift_empty_frame_yields_one_null_row(spark):
    df = spark.createDataFrame([], "grp string, value double")
    got = binned_ecdf_drift(df, "value", "grp", "a", "b").collect()[0]
    assert got["n_a"] is None and got["n_b"] is None


def test_cap_per_key_null_keys_form_their_own_group(spark):
    from pyspark.sql import functions as F

    data = [(None, 5, 1), (None, 3, 2), (None, 9, 3), ("k", 1, 4)]
    df = spark.createDataFrame(data, "key string, val long, uid long")
    kept = cap_per_key(df, ["key"], [F.col("val").desc(), F.col("uid")], 2)
    got = {r["uid"] for r in kept.collect()}
    # NULL group capped to its top-2 by val desc (uids 3 and 1); the
    # non-null singleton survives untouched.
    assert got == {3, 1, 4}


def _mwu_numpy(a, b, bin_width=5.0, n_bins=100):
    # Independent formulation: midranks over the binned pooled sample,
    # U = R_a - n_a(n_a+1)/2 (the rank-sum identity), tie-corrected z.
    ba = np.clip(np.floor(np.asarray(a) / bin_width).astype(int), 0, n_bins - 1)
    bb = np.clip(np.floor(np.asarray(b) / bin_width).astype(int), 0, n_bins - 1)
    pooled = np.concatenate([ba, bb])
    order = np.argsort(pooled, kind="stable")
    ranks = np.empty(len(pooled))
    sv = pooled[order]
    i, r = 0, 1
    while i < len(sv):
        j = i
        while j + 1 < len(sv) and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i : j + 1]] = (r + (r + j - i)) / 2.0
        r += j - i + 1
        i = j + 1
    na, nb_ = len(a), len(b)
    u = ranks[:na].sum() - na * (na + 1) / 2.0
    n = na + nb_
    t = np.bincount(pooled).astype(float)
    tie = float(np.sum(t**3 - t))
    var = na * nb_ / 12.0 * ((n + 1) - tie / (n * (n - 1)))
    z = (u - na * nb_ / 2.0) / math.sqrt(var) if var > 0 else None
    return u, z


@given(
    a=st.lists(_val2dp, min_size=1, max_size=80),
    b=st.lists(_val2dp, min_size=1, max_size=80),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_mann_whitney_matches_rank_sum_recompute(spark, a, b):
    from aics_dask_utils_spark.operators.stats import mann_whitney_u

    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "grp string, value double")
    got = mann_whitney_u(df, "value", "grp", "a", "b").collect()[0]
    u, z = _mwu_numpy(a, b)
    assert got["n_a"] == len(a) and got["n_b"] == len(b)
    assert math.isclose(got["u_stat"], u, rel_tol=1e-9, abs_tol=1e-5)
    assert 0.0 <= got["u_stat"] <= len(a) * len(b)
    if z is None:
        assert got["z_score"] is None
    else:
        assert math.isclose(got["z_score"], z, rel_tol=1e-6, abs_tol=1e-5)


def test_mann_whitney_all_tied_yields_null_z(spark):
    from aics_dask_utils_spark.operators.stats import mann_whitney_u

    # Every value lands in one cell: variance fully tie-corrected to 0,
    # z must be NULL (try_divide), U must be the midrank value na*nb/2.
    rows = [("a", 1.0)] * 4 + [("b", 2.0)] * 3  # bins: all -> cell 0
    df = spark.createDataFrame(rows, "grp string, value double")
    got = mann_whitney_u(df, "value", "grp", "a", "b").collect()[0]
    assert got["u_stat"] == 4 * 3 / 2.0
    assert got["z_score"] is None


def test_mann_whitney_registered_plan(spark, sf_dir, duck):
    """The round-6 registered plan (the round-5 draft oracle, promoted)
    must match its oracle here too, independent of the registry sweep,
    so a stats-operator edit cannot silently break the registration."""
    from aics_dask_utils_spark.testing import run_plan_vs_oracle

    run_plan_vs_oracle(spark, "events_mann_whitney", sf_dir, con=duck)


def test_mid_decode_at_the_id_layout_boundaries(spark):
    # monotonically_increasing_id = partition << 33 | local row, as a
    # signed long; partition 2^31-1 sets the sign bit.
    from pyspark.sql.types import LongType, StructField, StructType

    from aics_dask_utils_spark.operators.stats import _decode_mid

    cases = [
        (p, r) for p in (0, 1, 2**31 - 1) for r in (0, 1, 2**33 - 1)
    ]
    signed = [((p << 33 | r) + 2**63) % 2**64 - 2**63 for p, r in cases]
    schema = StructType([StructField("_mid", LongType(), False)])
    df = spark.createDataFrame([(m,) for m in signed], schema)
    got = [(row["_pid"], row["_lr"]) for row in _decode_mid(df).collect()]
    assert got == [(p, r + 1) for p, r in cases]
    types = dict(_decode_mid(df).dtypes)
    assert (types["_pid"], types["_lr"]) == ("int", "bigint")
