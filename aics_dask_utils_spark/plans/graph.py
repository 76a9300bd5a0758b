"""Graph-analytics plans (E62): oracle-checked iterative PageRank.

The nation-level trade graph is derived from the TPC-H-shaped star
schema (customer nation -> supplier nation, weighted by lineitem
count); PageRank runs as an iterative Spark loop while the DuckDB
oracle unrolls the identical rounds as CTE blocks — like the k-means
and connected-components plans, a whole iterative algorithm is
hash-compared, floats included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import pagerank
from ..sources import load_table
from . import register

# `edges` is MATERIALIZED: DuckDB inlines each read of a plain CTE, and in
# an inlined copy it pushes a `src <> dst` filter below the GROUP BY, so
# customer x supplier becomes a nested-loop join on c_nationkey <> s_nationkey.
# At sf0.01 that join emits 144,051 rows and the orders join above it
# 1,440,519 (vs 60,000 lineitem rows); at sf0.1 each copy is ~144M rows.
_EDGE_CTE = """
    edges AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      GROUP BY src, dst
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src)
"""


def _pagerank_oracle(iters: int = 3, damping: float = 0.85) -> str:
    ctes = [_EDGE_CTE.strip()]
    ctes.append(
        "pr0 AS (SELECT node, ROUND(1.0 / n_nodes, 6) AS pr "
        "FROM nodes CROSS JOIN nn)"
    )
    for i in range(1, iters + 1):
        prev = f"pr{i - 1}"
        ctes.append(
            f"""c{i} AS (
      SELECT e.dst, CAST(SUM(CAST(p.pr * e.w / o.ow AS DECIMAL(30,12))) AS DOUBLE) AS contrib
      FROM edges e JOIN {prev} p ON e.src = p.node JOIN outw o ON e.src = o.src
      GROUP BY e.dst
    ),
    pr{i} AS (
      SELECT n.node,
             ROUND({1.0 - damping} / nn.n_nodes
                   + {damping} * COALESCE(c.contrib, 0.0), 6) AS pr
      FROM nodes n LEFT JOIN c{i} c ON n.node = c.dst CROSS JOIN nn
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, pr FROM pr{iters}"
    )


@register(
    "graph_pagerank_nations",
    oracle=_pagerank_oracle(),
    doc="weighted PageRank (3 rounds, d=0.85) over the nation-level "
    "trade graph (customer nation -> supplier nation, lineitem-count "
    "weights). Iterative Spark loop — per round one edges x ranks join "
    "+ one by-dst aggregation, edges checkpointed once — vs an "
    "unrolled-CTE oracle; per-round decimal sums + 6dp rounding make "
    "the float iteration engine-reproducible (E62)",
    tags=("graph", "iterative"),
)
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        # cust/supp are O(SF): no forced broadcast (lint-enforced);
        # AQE re-derives the broadcast when the 2-column projection fits.
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .join(supp, F.col("l_suppkey") == supp["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return pagerank(edges, iters=3, damping=0.85)


@register(
    "graph_triangle_counts",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       AND a.l_partkey < b.l_partkey
      WHERE a.l_partkey % 10 < 2 AND b.l_partkey % 10 < 2
    ),
    tri AS (
      SELECT e1.p1 AS x, e1.p2 AS y, e2.p2 AS z
      FROM e e1
      JOIN e e2 ON e1.p2 = e2.p1
      JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    ),
    nodes AS (
      SELECT node, COUNT(*) AS n_triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY node
    )
    SELECT node, n_triangles FROM nodes
    ORDER BY n_triangles DESC, node LIMIT 20
    """,
    doc="triangle counting over the part co-purchase graph (parts "
    "appearing in the same order, 20% partkey sample): Spark counts "
    "via DEGREE-ORDERED edge orientation (Suri & Vassilvitskii 2011) "
    "— every node's oriented out-degree is O(sqrt(E)), so the wedge "
    "join's fan-out stays bounded on power-law graphs where naive "
    "id-ordering lets one hub emit deg² wedges — while the oracle "
    "enumerates naively with a<b<c. Any acyclic orientation counts "
    "each triangle exactly once, so the two strategies must agree "
    "row-for-row: the hash check proves the scale-optimized plan "
    "computes the naive spec (E62 family)",
    tags=("graph", "join"),
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_counts

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") % 10 < 2
    )
    from pyspark.storagelevel import StorageLevel

    a = li.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
    # persisted: the operator's union consumes the co-purchase edge
    # relation twice; caching it keeps the lineitem self-join single-run
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return (
        triangle_counts(edges, "p1", "p2")
        .orderBy(F.desc("n_triangles"), "node")
        .limit(20)
    )


def _lpa_oracle(iters: int = 3) -> str:
    ctes = [_EDGE_CTE.strip()]
    ctes.append(
        """und AS (
      SELECT a, b, SUM(w) AS w FROM (
        SELECT src AS a, dst AS b, w FROM edges WHERE src <> dst
        UNION ALL
        SELECT dst AS a, src AS b, w FROM edges WHERE src <> dst
      ) GROUP BY a, b
    ),
    l0 AS (SELECT DISTINCT a AS node, a AS label FROM und)"""
    )
    for i in range(1, iters + 1):
        ctes.append(
            f"""s{i} AS (
      SELECT u.a AS node, l.label, SUM(u.w) AS tw
      FROM und u JOIN l{i - 1} l ON u.b = l.node GROUP BY u.a, l.label
    ),
    l{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                 ORDER BY tw DESC, label ASC) AS rn
        FROM s{i}) WHERE rn = 1
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, label FROM l{iters} ORDER BY node"
    )


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    doc="weighted label-propagation community detection (3 synchronous "
    "rounds) over the nation trade graph: each node adopts the label "
    "with maximum total incident edge weight among its neighbors, "
    "ties to the smallest label — a total deterministic rule in pure "
    "INTEGER arithmetic, so the whole iteration hash-matches the "
    "unrolled-CTE oracle with zero float-drift concern. Per round: "
    "one edges-x-labels shuffle join + one (node,label) agg + a "
    "per-node argmax window, all linear in |E|; labels checkpointed "
    "per round so the plan stays flat (E62 family)",
    tags=("graph", "iterative"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        # cust/supp are O(SF): no forced broadcast (lint-enforced);
        # AQE re-derives the broadcast when the 2-column projection fits.
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .join(supp, F.col("l_suppkey") == supp["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return label_propagation(edges, iters=3).orderBy("node")


@register(
    "graph_reachability_recursive_cte",
    oracle="""
    WITH RECURSIVE
    e AS (
      SELECT n_nationkey AS src, n_nationkey + 5 AS dst
      FROM nation WHERE n_nationkey + 5 <= 24
    ),
    r(root, node, depth) AS (
      SELECT n_nationkey, n_nationkey, CAST(0 AS BIGINT)
      FROM nation WHERE n_nationkey < 5
      UNION ALL
      SELECT r.root, e.dst, r.depth + 1
      FROM r JOIN e ON e.src = r.node
    )
    SELECT root,
           CAST(COUNT(*) AS BIGINT) AS n_reachable,
           MAX(depth) AS max_depth
    FROM r GROUP BY root ORDER BY root
    """,
    doc="recursive CTE transitive closure (Spark 4 WITH RECURSIVE, "
    "E47/E62 extension): reachability over a derived acyclic edge set "
    "(nation n -> n+5), seeded from 5 roots, expanded purely in SQL — "
    "iterative graph traversal WITHOUT a driver-side loop, each "
    "recursion step one equi-join the engine schedules itself. The "
    "declarative twin of the hand-rolled pagerank/LPA loops "
    "(`operators/graph.py`); DuckDB runs the identical recursive query",
    tags=("graph", "relational"),
)
def graph_reachability_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_rcte")
    return spark.sql(
        """
        WITH RECURSIVE
        e AS (
          SELECT n_nationkey AS src, n_nationkey + 5 AS dst
          FROM nation_rcte WHERE n_nationkey + 5 <= 24
        ),
        r(root, node, depth) AS (
          SELECT n_nationkey, n_nationkey, CAST(0 AS BIGINT)
          FROM nation_rcte WHERE n_nationkey < 5
          UNION ALL
          SELECT r.root, e.dst, r.depth + 1
          FROM r JOIN e ON e.src = r.node
        )
        SELECT root,
               COUNT(*) AS n_reachable,
               MAX(depth) AS max_depth
        FROM r GROUP BY root ORDER BY root
        """
    )
