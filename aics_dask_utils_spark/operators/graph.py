"""Graph-analytics operators beyond pair dedup: weighted PageRank.

Complements :func:`..operators.dedup.connected_components_star` (the
other iterative graph op). Same scale skeleton: the edge list is the only
big relation; each iteration is one shuffle join (edges x ranks on
src) + one aggregation (contributions by dst); the rank relation is
node-sized. Edges are checkpointed once so the (usually expensive)
edge derivation never re-executes per iteration, and lineage stays
flat. Per-iteration ranks are decimal-summed and rounded to 6 dp,
which makes the whole iterative float computation reproducible on any
engine — the DuckDB oracle unrolls the identical iterations as CTEs.

At 1000-executor scale: ranks broadcast when nodes << edges; skewed
high-in-degree nodes are the known hazard — salt the contribution
aggregation or use the standard split-high-degree-vertex trick; the
loop skeleton is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.deterministic import dsum
from .checkpointing import iter_checkpoint


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 3,
    damping: float = 0.85,
    reliable: bool = False,
) -> DataFrame:
    """Weighted PageRank over a directed edge list, ``iters`` rounds.

    pr_0 = round(1/N, 6);
    pr_{i+1}(n) = round((1-d)/N + d * sum_in(pr_i(m) * w(m,n)/outw(m)), 6)

    (no dangling-mass redistribution — declared semantics, identical in
    the oracle). Returns (node, pr) for every node appearing as source
    or destination. ``reliable=True`` uses a fault-tolerant
    ``checkpoint()`` for the edge materialization instead of
    ``localCheckpoint`` (see :mod:`.checkpointing`) — on a cluster a
    lost executor otherwise kills a long run.
    """
    e = iter_checkpoint(
        edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
        ),
        reliable=reliable,
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_rel = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    ew = e.join(outw, "src")
    ranks = nodes.crossJoin(n_rel).select(
        "node", F.round(F.lit(1.0) / F.col("n_nodes"), 6).alias("pr")
    )
    for _ in range(iters):
        contrib = (
            ew.join(ranks, ew["src"] == ranks["node"])
            .select("dst", (F.col("pr") * F.col("w") / F.col("ow")).alias("c"))
            .groupBy("dst")
            .agg(dsum("c", scale=12).alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(n_rel)
            .select(
                "node",
                F.round(
                    (1.0 - damping) / F.col("n_nodes")
                    + damping * F.coalesce("contrib", F.lit(0.0)),
                    6,
                ).alias("pr"),
            )
        )
    return ranks


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation counts over an undirected simple
    graph, via degree-ordered orientation (Suri & Vassilvitskii 2011):
    orient every edge from its (degree, id)-smaller endpoint to the
    larger, then join oriented wedges u→v→w against oriented closers
    u→w. The orientation is an acyclic total order, so each triangle is
    enumerated exactly ONCE — and, critically for scale, every node's
    out-degree is bounded by O(sqrt(|E|)): the wedge join's fan-out is
    capped even on power-law graphs, where the naive id-ordering makes
    one celebrity hub produce deg² wedges. The result is identical to
    naive a<b<c enumeration (any acyclic orientation counts each
    triangle once); only the intermediate sizes differ — which is the
    entire point at 100 TB.

    Returns (node, n_triangles) for every node in ≥1 triangle."""

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    # NOT persisted: the degree aggregate and the ranking join both
    # consume the undirected relation, but each re-derivation is a
    # union+distinct over the CALLER's edge relation — callers with an
    # expensive edge build persist THAT (see graph_triangle_counts),
    # which collapses the source fan-out (12 scans -> 1) while keeping
    # the small distinct shuffles pipelined (persisting here too was
    # bench-neutral-to-slightly-slower at sf0.1: materialization beats
    # recompute only when the upstream is expensive, and the
    # expensive upstream is the caller's).
    und = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg")).withColumnsRenamed(
        {"a": "node"}
    )
    ranked = (
        und.join(deg.withColumnsRenamed({"node": "a", "deg": "da"}), "a")
        .join(deg.withColumnsRenamed({"node": "b", "deg": "db"}), "b")
    )
    oriented = ranked.select(
        F.when(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
            F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
        )
        .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
        .alias("e")
    ).select("e.u", "e.v").distinct()
    # The oriented edge relation feeds THREE consumers (both wedge
    # sides and the closing-edge probe). ReuseExchange dedups only the
    # shuffle; persisting skips re-running the upstream build (edge
    # self-join + two degree joins + two distincts) per consumer.
    from pyspark.storagelevel import StorageLevel

    oriented = oriented.persist(StorageLevel.MEMORY_AND_DISK)
    wedges = oriented.alias("e1").join(
        oriented.alias("e2"), F.col("e1.v") == F.col("e2.u")
    ).select(
        F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
    )
    tri = wedges.join(
        oriented.alias("e3"),
        (F.col("x") == F.col("e3.u")) & (F.col("z") == F.col("e3.v")),
    ).select("x", "y", "z")
    nodes = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return nodes


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 3,
    reliable: bool = False,
) -> DataFrame:
    """Synchronous weighted label propagation (community detection),
    ``iters`` rounds over an undirected simple graph.

    label_0(v) = v; label_{i+1}(v) = the label carrying the maximum
    total incident edge weight among v's neighbors, ties broken by the
    SMALLEST label — a total, deterministic rule, so the iteration is
    engine-reproducible with pure integer arithmetic (no float drift
    at all, unlike PageRank). Self-loops are dropped; directed input
    edges are symmetrized with weights summed per unordered pair.

    Scale shape: per round one edges-x-labels equi-join (shuffle on
    the neighbor key) + one (node, label) aggregation + one per-node
    argmax window — all linear in |E|. Labels are checkpointed per
    round so the plan does not grow with the iteration count (the
    kmeans/pagerank lesson); ``reliable=True`` swaps in fault-tolerant
    ``checkpoint()`` (see :mod:`.checkpointing`). Returns
    (node, label)."""
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b"), F.col(weight).alias("w")
    ).where(F.col("a") != F.col("b"))
    # Lazy checkpoints throughout (round-12): LPA has NO per-round
    # action — a fixed iteration count, no convergence probe — so
    # eager checkpoints spent one materialization job per round. Lazy
    # marking still truncates the SQL plan per round (the kmeans /
    # pagerank lesson this loop exists for); the caller's single
    # action materializes every round's blocks once, in order.
    und = iter_checkpoint(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w")),
        reliable=reliable,
        # reliable=True keeps EAGER: checkpoint(eager=False) only marks
        # the last RDD and recomputes the chain at the first action
        # (checkpointAllMarkedAncestors is off by default), silently
        # losing the per-round lineage cut fault tolerance exists for
        # (r12 ADVICE). The lazy optimization applies to the
        # localCheckpoint path only.
        eager=reliable,
    )
    labels = und.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(iters):
        scored = (
            und.join(labels, und["b"] == labels["node"])
            .groupBy(und["a"].alias("node"), "label")
            .agg(F.sum("w").alias("tw"))
        )
        win = W.partitionBy("node").orderBy(F.desc("tw"), F.asc("label"))
        labels = iter_checkpoint(
            scored.withColumn("rn", F.row_number().over(win))
            .where(F.col("rn") == 1)
            .select("node", "label"),
            reliable=reliable,
            eager=reliable,  # see the und checkpoint note above
        )
    return labels
