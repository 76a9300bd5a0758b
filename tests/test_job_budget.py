"""Job budgets: exact Spark job counts for operators that run actions
while a plan is being built. Unlike timings, job counts are
deterministic for fixed inputs, so they are pinned exactly.

Each call runs under its own job group; the count is read from the
status tracker after the listener bus has delivered every event
(reading earlier can miss the last jobs). Under a loaded session an
AQE helper thread can add one timing-dependent job to a multi-round
loop (seen once in a full suite run: 51 for the 50-job star loop), so
each case is built twice and the smaller count is the one pinned."""

import uuid

import pytest


def _run_jobs(spark, fn):
    """(names of the Spark jobs ``fn`` ran, in submission order; its
    return value)."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    return [store.job(j).name() for j in ids], out


# 22 canonical edges over 24 nodes: a 10-hop chain, a triangle, a
# degree-9 hub.
_EDGES = (
    [(i, i + 1) for i in range(100, 110)]
    + [(7, 8), (8, 9), (9, 7)]
    + [(500, x) for x in range(501, 510)]
)


@pytest.mark.parametrize(
    "gate,construct_jobs,collect_jobs",
    [
        # under the default gate: 2 jobs for the canonical-edge checkpoint,
        # 1 to collect it; the result is a local relation, so reading it
        # back runs no job at all.
        (None, 3, 0),
        # one edge over the gate: the same 3 jobs, then the star loop —
        # 2 for the first signature and 9 per round (7 checkpoint, 2
        # signature), 5 rounds on this graph.
        (21, 50, 4),
        # gate 0 skips the collect: the star loop alone.
        (0, 49, 4),
    ],
)
def test_cc_star_job_budget(spark, monkeypatch, gate, construct_jobs, collect_jobs):
    from aics_dask_utils_spark.operators import dedup as D

    if gate is not None:
        monkeypatch.setattr(D, "LOCAL_CC_MAX", gate)
    edges = spark.createDataFrame(_EDGES, "d1 bigint, d2 bigint")
    runs = []
    for _ in range(2):
        built, out = _run_jobs(spark, lambda: D.connected_components_star(edges))
        read, rows = _run_jobs(spark, out.collect)
        assert len(rows) == 24
        runs.append((len(built), len(read), built, read))
    n, m, built, read = min(runs, key=lambda r: r[:2])
    assert (n, m) == (construct_jobs, collect_jobs), (built, read)


def _embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_bounded_ivfpq_construction_job_budget(spark, sf_dir):
    # A bounded sample (train_limit <= LOCAL_TRAIN_MAX) trains both
    # IVFADC quantizers from ONE collect of the sample; everything else
    # ships the trained values as literals, so building the plan runs
    # exactly that one job.
    from pyspark.sql import functions as F

    from aics_dask_utils_spark.operators.similarity import ivfpq_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 3)
    runs = [
        _run_jobs(spark, lambda: ivfpq_topk(emb, queries, train_limit=64))[0]
        for _ in range(2)
    ]
    built = min(runs, key=len)
    assert len(built) == 1, built


def test_unbounded_kmeans_train_and_assign_job_budget(spark, sf_dir):
    # The distributed loop: preparing each lazily checkpointed round
    # starts its broadcast jobs (10 over the two rounds), and one
    # collect returns the k centroids. Assigning with the returned list
    # broadcasts a literal candidate array, so the assignment pass runs
    # only its own 3 jobs.
    from pyspark.sql import functions as F

    from aics_dask_utils_spark.functions.vectors import as_double_array
    from aics_dask_utils_spark.operators.clustering import (
        kmeans_assign,
        kmeans_centroids,
    )

    emb = _embeddings(spark, sf_dir)
    e = emb.select(
        F.col("vec_id").alias("vid"), as_double_array("embedding").alias("v")
    )
    runs = []
    for _ in range(2):
        built, cent = _run_jobs(spark, lambda: kmeans_centroids(emb, k=4, iters=2))
        assert [cid for cid, _ in cent] == [0, 1, 2, 3]
        read, rows = _run_jobs(spark, kmeans_assign(e, cent).collect)
        assert len(rows) == emb.count()
        runs.append((len(built), len(read), built, read))
    n, m, built, read = min(runs, key=lambda r: r[:2])
    assert (n, m) == (11, 3), (built, read)
