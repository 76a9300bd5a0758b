"""Property-based tests (hypothesis) for the engine's determinism policy
and the two formulations of exact top-k similarity.

The determinism policy (functions/deterministic.py) claims exact-decimal
sums are invariant to partitioning — the property that makes results
bit-identical on 8 partitions locally and 80,000 on a cluster. Assert
it on generated data, not just the fixture tables.
"""

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aics_dask_utils_spark.functions.deterministic import dsum

_doubles = st.lists(
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    ).map(lambda x: round(x, 4)),
    min_size=1,
    max_size=300,
)


@given(xs=_doubles)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dsum_invariant_to_partitioning(spark, xs):
    rows = [(float(x),) for x in xs]
    df = spark.createDataFrame(rows, "v double")
    results = set()
    for n_parts in (1, 3, 17):
        got = (
            df.repartition(n_parts).agg(dsum("v").alias("s")).collect()[0]["s"]
        )
        results.add(got)
    assert len(results) == 1  # bit-identical across partition counts
    # and equal to exact decimal arithmetic done in python
    from decimal import Decimal

    expected = float(sum(Decimal(str(x)) for x in xs))
    assert math.isclose(results.pop(), expected, rel_tol=0, abs_tol=1e-6)


@given(
    xs=st.lists(st.integers(min_value=-(2**40), max_value=2**40), min_size=1, max_size=500)
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_handler_map_gather_matches_python(spark, xs):
    from aics_dask_utils_spark.handler import SparkHandler

    h = SparkHandler(spark=spark)
    got = h.gather(h.map(lambda x: x * 3 + 1, xs))
    assert got == [x * 3 + 1 for x in xs]


def test_ann_pandas_matches_jvm_brute(spark, sf_dir):
    """The numpy-matmul top-k and the JVM fold top-k must agree on
    neighbors and ranks exactly, and on cosines to 1e-9 (BLAS vs
    sequential accumulation differ only in low bits)."""
    import numpy as np

    from aics_dask_utils_spark.plans import all_plans

    ps = all_plans()
    pa = (
        ps["ann_topk_pandas"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values(["q_id", "rank"])
        .reset_index(drop=True)
    )
    pb = (
        ps["ann_topk_brute"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values(["q_id", "rank"])
        .reset_index(drop=True)
    )
    assert len(pa) == len(pb) > 0
    assert (
        pa[["q_id", "neighbor_id", "rank"]].values
        == pb[["q_id", "neighbor_id", "rank"]].values
    ).all()
    assert np.allclose(pa["cosine"], pb["cosine"], atol=1e-9)


_token_docs = st.lists(
    st.lists(
        st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
        min_size=0,
        max_size=15,
    ).map(lambda ws: " ".join(ws)),
    min_size=1,
    max_size=20,
)


@given(docs=_token_docs)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_shingle_count_and_bag_fingerprint_invariants(spark, docs):
    """shingles(k) yields <= max(0, n_tokens-k+1) entries (distinct-capped,
    never the descending-sequence artifact); fingerprint_bag is invariant
    under token-order permutation."""
    from aics_dask_utils_spark.operators.text import (
        fingerprint_bag,
        shingles,
        tokens,
    )

    rows = [(i, d, " ".join(reversed(d.split()))) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "id long, text string, rev string")
    got = df.select(
        F.size(tokens("text")).alias("n_tok"),
        F.size(shingles("text", 3)).alias("n_sh"),
        (fingerprint_bag("text") == fingerprint_bag("rev")).alias("bag_eq"),
    ).collect()
    for r in got:
        assert 0 <= r["n_sh"] <= max(0, r["n_tok"] - 2)
        assert r["bag_eq"]


@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
            ).map(lambda x: round(x, 3)),
            min_size=4,
            max_size=4,
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_quantization_error_bound(spark, vecs):
    """int8 symmetric quantization: each reconstructed component is within
    scale/2 of the original, so per-vector squared error <= dim*(scale/2)^2."""
    from aics_dask_utils_spark.functions.vectors import as_double_array

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, embedding array<double>",
    )
    arr = as_double_array("embedding")
    scale = F.nullif(
        F.array_max(F.transform(arr, lambda x: F.abs(x))) / 127.0, F.lit(0.0)
    )
    df = df.withColumn("scale", scale)
    sc = F.col("scale")
    err = F.aggregate(
        F.transform(
            arr,
            lambda x: (x - F.round(x / sc, 0) * sc)
            * (x - F.round(x / sc, 0) * sc),
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    got = df.select("scale", err.alias("err")).collect()
    for r in got:
        if r["scale"] is None:
            assert r["err"] is None  # all-zero vector: NULL propagates
        else:
            assert r["err"] <= 4 * (r["scale"] / 2.0) ** 2 + 1e-12


def test_weighted_sample_invariant_under_weight_scaling(spark):
    """A-ES draws are -ln(u)/w: scaling every weight by a constant scales
    every draw identically, so the SELECTED SET must not change."""
    from pyspark.sql import functions as F

    from aics_dask_utils_spark.operators.sampling import weighted_sample_topk

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 17 + 1).alias("w")
    )
    a = weighted_sample_topk(df, "doc_id", F.col("w"), k=50)
    b = weighted_sample_topk(
        df.withColumn("w", F.col("w") * 1000), "doc_id", F.col("w"), k=50
    )
    assert sorted(r["doc_id"] for r in a.collect()) == sorted(
        r["doc_id"] for r in b.collect()
    )


def test_weighted_sample_excludes_zero_and_null_weights(spark):
    """Weight 0 / NULL means sampling probability 0. The naive plan put
    those rows FIRST (0-division -> NULL draw, asc sorts NULLs first) —
    guaranteed selection, the exact inverse of the contract."""
    from pyspark.sql import functions as F

    from aics_dask_utils_spark.operators.sampling import weighted_sample_topk

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 10, F.lit(0))
        .when(F.col("id") < 20, F.lit(None).cast("long"))
        .otherwise(F.lit(5))
        .alias("w"),
    )
    picked = {r["doc_id"] for r in
              weighted_sample_topk(df, "doc_id", F.col("w"), k=30).collect()}
    assert len(picked) == 30
    assert all(d >= 20 for d in picked), "zero/NULL-weight rows were selected"


def _reference_components(edges):
    """Pure-Python connected components by BFS: {node: min node of its
    component} over the non-NULL, non-self-loop edges — the contract of
    connected_components_star, computed independently of union-find."""
    adj = {}
    for a, b in edges:
        if a is None or b is None or a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    comp = {}
    for start in adj:
        if start in comp:
            continue
        seen, todo = {start}, [start]
        while todo:
            for nb in adj[todo.pop()] - seen:
                seen.add(nb)
                todo.append(nb)
        for node in seen:
            comp[node] = min(seen)
    return comp


_CHAIN = [(i, i + 1) for i in range(100, 140)]          # diameter 40
_HUB = [(500, x) for x in range(501, 560)]              # degree-59 star
_TRI = [(7, 8), (8, 9), (9, 7)]                         # cycle


def test_star_components_agree_with_python_reference(spark, monkeypatch):
    """The distributed large-star/small-star loop (gate forced to 0) must
    produce the (node, component-min) labelling of a pure-Python BFS on
    adversarial shapes: a long chain (worst case for propagation), a
    high-degree hub (worst case for star rewiring), self-contained
    triangles, and singleton-free disjoint pairs."""
    from aics_dask_utils_spark.operators import dedup as D

    monkeypatch.setattr(D, "LOCAL_CC_MAX", 0)
    pairs = [(1000 + 2 * i, 1001 + 2 * i) for i in range(20)]
    raw = _CHAIN + _HUB + _TRI + pairs
    edges = spark.createDataFrame(raw, "d1 bigint, d2 bigint")
    got = {
        (r["doc_id"], r["component"])
        for r in D.connected_components_star(edges).collect()
    }
    assert got == set(_reference_components(raw).items())
    # spot-check the labelling itself, not just agreement
    lab = dict(got)
    assert all(lab[i] == 100 for i in range(100, 141))
    assert all(lab[x] == 500 for x in range(500, 560))
    assert lab[7] == lab[8] == lab[9] == 7


@pytest.mark.parametrize("id_type", ["int", "bigint"])
@pytest.mark.parametrize(
    "raw",
    [
        _CHAIN + _HUB + _TRI,
        # self-loops, duplicate and reversed edges, NULL endpoints
        [(1, 1), (1, 2), (1, 2), (2, 1), (3, 2), (4, None), (None, 5),
         (None, None), (6, 6), (7, 8), (8, 7)],
        [],
    ],
    ids=["chain_hub_triangle", "degenerate_edges", "empty"],
)
def test_cc_star_gate_equivalence(spark, monkeypatch, raw, id_type):
    """The driver-side union-find below LOCAL_CC_MAX and the distributed
    star loop (gate 0) return identical (doc_id, component) sets, equal
    to the pure-Python reference, under an identical output schema."""
    from aics_dask_utils_spark.operators import dedup as D

    edges = spark.createDataFrame(raw, f"d1 {id_type}, d2 {id_type}")
    local = D.connected_components_star(edges)
    monkeypatch.setattr(D, "LOCAL_CC_MAX", 0)
    dist = D.connected_components_star(edges)
    assert local.schema == dist.schema
    assert local.schema["doc_id"].dataType.simpleString() == id_type
    got_local = {(r["doc_id"], r["component"]) for r in local.collect()}
    got_dist = {(r["doc_id"], r["component"]) for r in dist.collect()}
    assert got_local == got_dist == set(_reference_components(raw).items())


def test_cc_star_gate_boundary_and_non_nullable_ids(spark, monkeypatch):
    """At exactly LOCAL_CC_MAX canonical edges the fast path is taken,
    one edge above it the star loop runs; both label identically, and
    non-nullable id columns keep their nullability on both paths."""
    from aics_dask_utils_spark.operators import dedup as D

    edges = spark.range(100, 140).select(
        F.col("id").alias("d1"), (F.col("id") + 1).alias("d2")
    )
    want = set(_reference_components([(i, i + 1) for i in range(100, 140)]).items())
    outs = []
    for gate in (40, 39):
        monkeypatch.setattr(D, "LOCAL_CC_MAX", gate)
        out = D.connected_components_star(edges)
        assert not out.schema["doc_id"].nullable
        assert {(r["doc_id"], r["component"]) for r in out.collect()} == want
        outs.append(out)
    assert outs[0].schema == outs[1].schema
    plan = outs[0]._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "LocalRelation" not in outs[1]._jdf.queryExecution().optimizedPlan().toString()


def test_reliable_checkpoint_refuses_without_dir(spark):
    """reliable=True must refuse to run without a configured checkpoint
    dir — the actionable-error contract. (Read-only on the shared
    session: the dir-SET equivalence half runs in its own JVM below,
    because checkpointDir is SparkContext state with no public unset.)"""
    import pytest as _pytest

    from aics_dask_utils_spark.operators.dedup import connected_components_star

    edges = spark.createDataFrame([(1, 2), (2, 3)], "d1 bigint, d2 bigint")
    assert spark.sparkContext.getCheckpointDir() is None
    with _pytest.raises(RuntimeError, match="checkpoint directory"):
        connected_components_star(edges, reliable=True).collect()


def test_reliable_checkpoint_path_for_iterative_ops(tmp_path):
    """reliable=True with a checkpoint dir set must produce the
    identical labelling/ranks as the localCheckpoint path. At cluster
    scale localCheckpoint blocks are unreplicated and lineage-truncated,
    so a lost executor kills a long CC/PageRank job; reliable=True is
    the fault-tolerant variant. Runs in a DEDICATED SparkSession (own
    JVM, subprocess): setCheckpointDir is irreversible SparkContext
    state, and hand-restoring it via the private Scala setter proved
    fragile across Spark upgrades."""
    import os
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        import sys
        from aics_dask_utils_spark.session import get_spark
        from aics_dask_utils_spark.operators import dedup as D
        from aics_dask_utils_spark.operators.graph import label_propagation, pagerank

        spark = get_spark(master="local[4]", app_name="ckpt-equivalence",
                          shuffle_partitions=4)
        spark.sparkContext.setCheckpointDir(sys.argv[1])

        chain = [(i, i + 1) for i in range(100, 120)]
        tri = [(7, 8), (8, 9), (9, 7)]
        edges = spark.createDataFrame(chain + tri, "d1 bigint, d2 bigint")

        def cc(**kw):
            return {(r["doc_id"], r["component"])
                    for r in D.connected_components_star(edges, **kw).collect()}

        base = cc()
        rel_local = cc(reliable=True)
        D.LOCAL_CC_MAX = 0  # the distributed star loop, checkpointing per round
        rel_star = cc(reliable=True)
        assert rel_local == base, (rel_local, base)
        assert rel_star == base, (rel_star, base)

        we = spark.createDataFrame(
            [(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0)],
            "src bigint, dst bigint, w double")
        pr_local = {(r["node"], r["pr"]) for r in pagerank(we).collect()}
        pr_rel = {(r["node"], r["pr"]) for r in pagerank(we, reliable=True).collect()}
        assert pr_rel == pr_local, (pr_rel, pr_local)
        lp_local = {(r["node"], r["label"]) for r in label_propagation(we).collect()}
        lp_rel = {(r["node"], r["label"])
                  for r in label_propagation(we, reliable=True).collect()}
        assert lp_rel == lp_local, (lp_rel, lp_local)
        print("CKPT-EQUIVALENCE-OK")
        spark.stop()
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "ckpt")],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "CKPT-EQUIVALENCE-OK" in proc.stdout


def test_spread_cache_keyed_on_application_id(spark, monkeypatch):
    """spread_to_cores memoizes partition counts per Spark application,
    not per session object: a restarted session can reuse a stopped
    one's id(), and must not read that application's counts."""
    from aics_dask_utils_spark.operators import clustering as C

    df = spark.range(37).coalesce(1)
    # A count left by another application under the same plan hash.
    monkeypatch.setitem(C._SPREAD_CACHE, ("stale-app", df.semanticHash()), 10**6)
    n = spark.sparkContext.defaultParallelism
    assert C.spread_to_cores(df).rdd.getNumPartitions() == n
    assert C._SPREAD_CACHE[(spark.sparkContext.applicationId, df.semanticHash())] == 1


def test_resample_grid_is_hourly_continuous(spark, sf_dir):
    """Every user's resampled series must step exactly one hour with no
    gaps — the contract that makes downstream rolling windows sound."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from aics_dask_utils_spark.plans import all_plans

    out = all_plans()["events_resample_ffill"].fn(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("bucket")
    gaps = (
        out.withColumn("prev", F.lag("bucket").over(w))
        .where(F.col("prev").isNotNull())
        .withColumn(
            "step", F.unix_timestamp("bucket") - F.unix_timestamp("prev")
        )
        .where(F.col("step") != 3600)
    )
    assert gaps.count() == 0


def test_pack_sequences_bins_are_contiguous_and_bounded(spark, sf_dir):
    """Bins must partition the doc_id order into contiguous runs, and
    every bin except possibly the last must overflow the 2048 budget
    only by its final document (greedy packing invariant)."""
    from aics_dask_utils_spark.plans import all_plans

    rows = sorted(
        all_plans()["pipeline_pack_sequences"].fn(spark, sf_dir).collect(),
        key=lambda r: r["bin"],
    )
    for a, b in zip(rows, rows[1:]):
        assert a["last_doc"] < b["first_doc"]  # contiguous, non-overlapping
    for r in rows[:-1]:
        # the bin START is below the budget boundary; only the last doc
        # may push it past (bin id derives from the PRECEDING cumsum)
        assert r["bin_tokens"] > 0


def test_approx_percentile_close_to_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    from aics_dask_utils_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact = li.select(
        F.expr("percentile(l_extendedprice, 0.5)").alias("m")
    ).first()["m"]
    approx = li.select(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("m")
    ).first()["m"]
    assert abs(approx - exact) / exact < 0.02


@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40_000)), min_size=1, max_size=25
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40_000)), min_size=0, max_size=25
    ),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    tolerance_s=st.sampled_from([None, 3]),
)
@settings(
    max_examples=14,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_matches_pandas_merge_asof(spark, left, right, direction, tolerance_s):
    """Differential oracle: the single-shuffle union+carry formulation
    must reproduce pandas merge_asof exactly — including equal-ts
    tiebreaks (backward: last right row in (ts, rid) order; forward:
    first; nearest: gap ties go backward) — on arbitrary inputs.

    Timestamps carry MILLISECOND offsets: nearest-direction choices and
    the tolerance cut must use sub-second gap math (whole-second
    truncation flips the chosen side whenever backward/forward
    candidates straddle a second boundary — the round-2 advisory)."""
    import datetime

    import pandas as pd

    from aics_dask_utils_spark.operators.asof import asof_join

    base = datetime.datetime(2024, 1, 1)

    def ts(ms):
        return base + datetime.timedelta(milliseconds=ms)

    lpdf = pd.DataFrame(
        [(i, k, ts(t)) for i, (k, t) in enumerate(left)],
        columns=["lid", "k", "ts"],
    )
    rpdf = pd.DataFrame(
        [(i, k, ts(t)) for i, (k, t) in enumerate(right)],
        columns=["rid", "k", "rts"],
    ).astype({"rid": "int64", "k": "int64", "rts": "datetime64[ns]"})
    # merge_asof requires sort by the on-key; sorting right by
    # (rts, rid) pins equal-ts ties: backward takes the LAST such row
    # (= max rid, our tiebreak rule), forward the FIRST (= min rid)
    lsort = lpdf.sort_values(["ts", "lid"]).reset_index(drop=True)
    rsort = rpdf.sort_values(["rts", "rid"]).reset_index(drop=True)
    expected_df = pd.merge_asof(
        lsort,
        rsort,
        left_on="ts",
        right_on="rts",
        left_by="k",
        right_by="k",
        direction=direction,
        tolerance=None if tolerance_s is None else pd.Timedelta(seconds=tolerance_s),
    )
    expected = {
        int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
        for r in expected_df.itertuples()
    }

    lf = spark.createDataFrame(lpdf)
    rf = (
        spark.createDataFrame(rpdf)
        if len(rpdf)
        else spark.createDataFrame([], "rid long, k long, rts timestamp")
    )
    got_rows = asof_join(
        lf,
        rf,
        left_on="k",
        right_on="k",
        left_ts="ts",
        right_ts="rts",
        payload_cols=["rid"],
        tiebreak="rid",
        direction=direction,
        tolerance_seconds=tolerance_s,
    ).collect()
    got = {
        int(r["lid"]): (None if r["asof_rid"] is None else int(r["asof_rid"]))
        for r in got_rows
    }
    assert got == expected


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta"]),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chunker_covers_every_token_with_bounded_overlap(spark, texts):
    """Sliding 16/8 chunking invariants on arbitrary corpora: chunk
    starts are exactly 0,8,16,... below the token count; every token
    position is covered by >= 1 chunk and <= 2 chunks (stride = C/2);
    reassembling chunk 0 + tails of later chunks yields the original
    token sequence."""
    import aics_dask_utils_spark.plans  # noqa: F401  (registers plans)
    from aics_dask_utils_spark.plans import REGISTRY

    rows = [(i, " ".join(toks)) for i, toks in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("documents_prop")

    # reuse the plan's Spark logic by rebuilding it over this tiny df
    from pyspark.sql import functions as F

    from aics_dask_utils_spark.operators.text import tokens as toks_fn

    C, S = 16, 8
    t = (
        df.where(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", toks_fn("text").alias("toks"))
        .withColumn("n", F.size("toks"))
    )
    c = t.select(
        "doc_id",
        "n",
        "toks",
        F.posexplode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(S))).alias(
            "chunk_idx", "start"
        ),
    ).withColumn(
        "chunk", F.slice(F.col("toks"), F.col("start") + 1, F.lit(C))
    )
    got = c.collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, toks in enumerate(texts):
        n = len(toks)
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_idx"])
        assert [r["start"] for r in chunks] == list(range(0, n, S))
        cover = [0] * n
        for r in chunks:
            for j in range(r["start"], min(r["start"] + C, n)):
                cover[j] += 1
        assert all(1 <= c_ <= 2 for c_ in cover), cover
        # reassembly: chunk 0 + the last S tokens of each later chunk
        rebuilt = list(chunks[0]["chunk"])
        for r in chunks[1:]:
            rebuilt.extend(r["chunk"][C - S:] if len(r["chunk"]) > C - S else [])
        assert rebuilt == toks


_xy_groups = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3650),  # x: day offsets
        st.floats(min_value=0.01, max_value=1e6, allow_nan=False,
                  allow_infinity=False).map(lambda v: round(v, 2)),
    ),
    min_size=3,
    max_size=120,
).filter(lambda pts: len({x for x, _ in pts}) >= 2)  # slope defined


@given(pts=_xy_groups)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_decimal_moment_ols_matches_numpy(spark, pts):
    """The exact-decimal-moment OLS formulation (agg_regression_per_group's
    skeleton) must agree with numpy's least squares on arbitrary data —
    a differential check of the closed-form algebra, independent of the
    fixture tables."""
    import numpy as np

    rows = [(int(x), float(y)) for x, y in pts]
    df = spark.createDataFrame(rows, "x int, y double")
    t = df.select(
        F.col("x").cast("decimal(10,0)").alias("x"),
        F.col("y").cast("decimal(20,4)").alias("y"),
    )
    s = t.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sx2"),
    ).collect()[0]
    nd = float(s["n"])
    denom = nd * s["sx2"] - s["sx"] * s["sx"]
    slope = (nd * s["sxy"] - s["sx"] * s["sy"]) / denom
    intercept = (s["sy"] - slope * s["sx"]) / nd
    xs = np.array([x for x, _ in rows], dtype=float)
    ys = np.array([y for _, y in rows], dtype=float)
    ref_slope, ref_intercept = np.polyfit(xs, ys, 1)
    # 1e-4 tolerance: double cancellation in n*sxy - sx*sy (clustered x,
    # y ~ 1e6, near-zero slope) plus polyfit's independent SVD rounding
    # can legitimately reach ~1e-5; a wrong formula is off by orders of
    # magnitude, so the differential still bites
    scale = max(abs(ref_slope), 1.0)
    assert math.isclose(slope, ref_slope, rel_tol=0, abs_tol=1e-4 * scale)
    scale_i = max(abs(ref_intercept), 1.0)
    assert math.isclose(intercept, ref_intercept, rel_tol=0, abs_tol=1e-4 * scale_i)


def test_keep_best_picks_max_score_min_id_and_flags_everyone(spark):
    # The retention core: per unit, exactly one kept=1 winner — the max
    # score, ties to the smallest id — and every member survives in the
    # audit trail with its flag.
    from pyspark.sql import functions as F

    from aics_dask_utils_spark.operators.dedup import keep_best

    members = spark.createDataFrame(
        [
            (1, 100, 0.5),
            (2, 100, 0.9),   # winner of unit 100
            (3, 100, 0.9),   # same score, larger id -> loses the tie
            (7, 200, 0.1),   # singleton unit
        ],
        "doc_id long, unit long, score double",
    )
    got = {
        r["doc_id"]: r["kept"]
        for r in keep_best(
            members, unit_col="unit", id_col="doc_id", score_col="score"
        ).collect()
    }
    assert got == {1: 0, 2: 1, 3: 0, 7: 1}
    # exactly one winner per unit
    kept = keep_best(
        members, unit_col="unit", id_col="doc_id", score_col="score"
    )
    per_unit = {
        r["unit"]: r["n"]
        for r in kept.groupBy("unit").agg(F.sum("kept").alias("n")).collect()
    }
    assert per_unit == {100: 1, 200: 1}


def test_retention_materialize_writes_source_partitioned_winner_set(
    spark, sf_dir
):
    # The executor's contract beyond the oracle hash: the artifact on
    # disk is laid out as source= partition directories (the
    # provenance-prunable lake layout), and the materialized corpus is
    # exactly one winner per near-dup unit — no unit lost, none kept
    # twice.
    import os

    from aics_dask_utils_spark.plans import all_plans
    from aics_dask_utils_spark.plans.dedup_sim import _component_units
    from aics_dask_utils_spark.plans.sources_plans import _tmp

    rows = (
        all_plans()["pipeline_retention_materialize"].fn(spark, sf_dir).collect()
    )
    path = _tmp(sf_dir, "retained")
    parts = [d for d in os.listdir(path) if d.startswith("source=")]
    assert parts, os.listdir(path)
    assert {r["source"] for r in rows} == {p.split("=", 1)[1] for p in parts}
    n_kept = sum(r["n_kept"] for r in rows)
    n_units = _component_units(spark, sf_dir).select("unit").distinct().count()
    assert n_kept == n_units, (n_kept, n_units)
