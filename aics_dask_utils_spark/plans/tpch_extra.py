"""Extended TPC-H-shaped relational plans.

Widens §2b's relational coverage with the classic analytic shapes the
first batch (Q1/Q3/Q5) left out — each adapted to the driver tables'
simplified schema (no commitdate/receiptdate/partsupp):

- Q4  : EXISTS → left-semi with a non-equi residual
- Q6  : tight-range scan-only aggregate (full predicate pushdown)
- Q7  : two-role dimension join (nation as supplier- and customer-side)
- Q10 : returned-item revenue ranking, top-N over a 4-way join
- Q12 : CASE-conditional aggregation over a fact-fact join
- Q14 : conditional-ratio aggregate (promo revenue share)
- Q15 : aggregate → max-scalar-subquery equality (top supplier)
- Q17 : per-group scalar threshold (0.2×avg) semi-applied to the fact
- Q18 : group-HAVING on a join, top-N
- Q19 : OR-of-ANDs pushdown across a join
- Q22 : global-scalar filter + anti join (dormant customers)
- Q2  : min-per-group decorrelation (window MIN + equality) for the
        min-cost supplier; Q9 : 5-way profit join; Q20 : aggregation-
        filtered semi join; Q21 : EXISTS/NOT-EXISTS lineitem self-joins
        (all four adapted for the absent partsupp/receiptdate columns)

Scale notes: explicit ``F.broadcast`` hints are reserved for relations
whose size does NOT grow with the data — nation (25 rows), region
(5 rows), and 1-row aggregate scalars (q15's max, q22's avg balance,
q11's total). customer/supplier/part/orders/lineitem-derived sides
are LEFT UNHINTED even when filtered: TPC-H sizes them linearly in SF
(customer = 150k x SF, part = 200k x SF), so a forced broadcast is a
guaranteed >8 GB broadcast failure / driver OOM at the 100 TB design
point. AQE re-derives the identical broadcast at runtime whenever the
actual post-filter build side is under the threshold, so small-scale
plans (and bench times) are unchanged. The only shuffles that survive
at 100 TB are fact⋈fact on orderkey (AQE-planned sort-merge,
co-partitionable by bucketing lineitem and orders on orderkey at
write time) and the final aggregates. The broadcast-hint contract is
lint-enforced registry-wide in tests/test_plan_quality.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import davg, drounded, dsum
from ..sources import load_table
from . import register

_DISC_PRICE = "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE)"


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS DOUBLE)
           AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6: scan-only aggregate; all three predicates reach the "
    "parquet reader (PushedFilters), zero joins, one tiny exchange (E8,E20)",
    tags=("relational", "agg", "tpch"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4: EXISTS as a left-semi join with a non-equi residual "
    "(l_shipdate > o_orderdate); semi-join short-circuits per key (E15)",
    tags=("relational", "join", "tpch"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q7_nation_volume",
    # The nation-pair filter runs above a MATERIALIZED aggregate: it
    # reads group keys only, so the rows are the same, but a plain WHERE
    # lets DuckDB push `n1.n_name <> n2.n_name` into a customer x
    # supplier join (1,440,519 rows at sf0.01, against 60,000 lineitem).
    oracle=f"""
    WITH vol AS MATERIALIZED (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(YEAR FROM l_shipdate) AS l_year,
             {_DISC_PRICE} AS revenue
      FROM lineitem
        JOIN orders   ON l_orderkey  = o_orderkey
        JOIN supplier ON l_suppkey   = s_suppkey
        JOIN customer ON o_custkey   = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      GROUP BY supp_nation, cust_nation, l_year
    )
    SELECT * FROM vol
    WHERE supp_nation <> cust_nation
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape: one dimension (nation) joined in two roles; both "
    "roles broadcast — the fact is touched once, shuffled once for the agg "
    "(E13,E14,E33)",
    tags=("relational", "join", "tpch"),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, {_DISC_PRICE} AS revenue, c_acctbal, n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10: returned-item revenue ranking; quarter filter prunes "
    "orders before the fact join, top-20 via TakeOrdered (E13,E14,E28)",
    tags=("relational", "join", "tpch"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q12_priority_class",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    doc="TPC-H Q12 shape: CASE-conditional counts over a fact-fact join; "
    "integer sums are order-independent, no float policy needed (E13,E20,E35)",
    tags=("relational", "agg", "tpch"),
)
def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q14_promo_effect",
    oracle="""
    SELECT ROUND(
             100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))
                      ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE),
           6) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
    doc="TPC-H Q14: promo revenue share — conditional-ratio aggregate over "
    "a part join (part is O(SF): unhinted, AQE picks the strategy) "
    "(E14,E20,E35)",
    tags=("relational", "agg", "tpch"),
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dec = "decimal(30,6)"
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            drounded(
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", disc.cast(dec)).otherwise(
                        F.lit(0).cast(dec)
                    )
                ).cast("double")
                / F.sum(disc.cast(dec)).cast("double")
            ).alias("promo_revenue")
        )
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, {_DISC_PRICE} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15: top supplier by quarterly revenue — aggregate reused "
    "twice (group + global max); the 1-row max is broadcast, equality on "
    "exact-decimal-derived doubles is well-defined (E20,E28)",
    tags=("relational", "agg", "tpch"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_qty_revenue",
    oracle="""
    WITH lim AS (
      SELECT l_partkey AS pk,
             0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
                    / COUNT(l_quantity)) AS qty_lim
      FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / 7.0, 6)
           AS avg_yearly
    FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN lim  ON pk = l_partkey
    WHERE p_type = 'SMALL' AND l_quantity < qty_lim
    """,
    doc="TPC-H Q17: per-part 0.2×avg(qty) threshold applied back to the "
    "fact — the correlated subquery decorrelated into a part-sized "
    "pre-aggregate; both join sides are O(SF) so strategy is left to "
    "AQE (at 100 TB this is a partkey-bucketed sort-merge) (E14,E20)",
    tags=("relational", "agg", "tpch"),
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "SMALL")
    lim = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * davg("l_quantity")).alias("qty_lim")
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(lim, F.col("pk") == F.col("l_partkey"))
        .where(F.col("l_quantity") < F.col("qty_lim"))
        .agg(
            drounded(dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly")
        )
    )


@register(
    "q18_large_orders",
    oracle="""
    SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    HAVING SUM(CAST(l_quantity AS DECIMAL(30,6))) > 150
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    doc="TPC-H Q18: large-volume orders — join-group-HAVING, top-100; the "
    "HAVING runs on the exact-decimal sum pre-cast (E13,E20,E28)",
    tags=("relational", "agg", "tpch"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pre-aggregate lineitem by orderkey BEFORE joining: the grouping keys
    # (custkey/date/price) are functionally dependent on orderkey, so the
    # sum can be computed first and the >150 filter applied to the
    # aggregate — the join then moves only qualifying orders (a few rows),
    # not every lineitem. At 100 TB this is the difference between
    # shuffling the fact table twice and once.
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(30,6)")).alias("_dq"))
        .where(F.col("_dq") > 150)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("_dq").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "q19_or_pushdown",
    oracle=f"""
    SELECT {_DISC_PRICE} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_type = 'SMALL'  AND p_size BETWEEN 1  AND 15
           AND l_quantity >= 1 AND l_quantity <= 21)
       OR (p_type = 'MEDIUM' AND p_size BETWEEN 10 AND 30 AND l_quantity > 5)
       OR (p_type = 'LARGE'  AND p_size BETWEEN 20 AND 50 AND l_quantity < 40)
    """,
    doc="TPC-H Q19 shape: OR-of-ANDs residual over a part join (O(SF), "
    "AQE-planned); Catalyst extracts the common l_quantity/p_size "
    "bounds for pushdown (E8,E14,E35)",
    tags=("relational", "join", "tpch"),
)
def q19_or_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_type") == "SMALL") & sz.between(1, 15) & (q >= 1) & (q <= 21))
        | ((F.col("p_type") == "MEDIUM") & sz.between(10, 30) & (q > 5))
        | ((F.col("p_type") == "LARGE") & sz.between(20, 50) & (q < 40))
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


@register(
    "q22_dormant_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
             / COUNT(c_acctbal) AS ab
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    doc="TPC-H Q22 shape: above-average-balance customers with no orders — "
    "1-row global scalar broadcast + left-anti join (E14,E15,E20)",
    tags=("relational", "join", "tpch"),
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("ab")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="explicit GROUPING SETS (beyond rollup/cube) via the SQL entry "
    "point (E23,E47)",
    tags=("relational", "agg"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "q8_market_share",
    oracle=f"""
    WITH volumes AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)) AS volume,
             n_name AS supp_nation
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_type = 'PROMO'
    )
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'FRANCE' THEN volume ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM volumes
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8 shape: one nation's share of PROMO-part revenue per "
    "order year — conditional-ratio over a 5-way star; only the "
    "fixed-cardinality nation keeps a broadcast hint (E14,E20,E33,E35)",
    tags=("relational", "agg", "tpch"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    dec = "decimal(30,6)"
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec)
    volumes = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    return (
        volumes.groupBy("o_year")
        .agg(
            drounded(
                F.sum(
                    F.when(F.col("supp_nation") == "FRANCE", F.col("volume")).otherwise(
                        F.lit(0).cast("decimal(30,6)")
                    )
                ).cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q13_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13: customer order-count distribution — LEFT OUTER join "
    "keeps zero-order customers (COUNT(col) skips their NULLs), then a "
    "histogram of the per-customer counts (E13,E20)",
    tags=("relational", "agg", "tpch"),
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q16_supplier_counts",
    oracle="""
    SELECT p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_type <> 'PROMO' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
    GROUP BY p_type, p_size
    ORDER BY supplier_cnt DESC, p_type, p_size
    """,
    doc="TPC-H Q16 adapted (no partsupp table — lineitem is the "
    "part↔supplier bridge): distinct-supplier counts per part class "
    "(E14,E21)",
    tags=("relational", "agg", "tpch"),
)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_type", "p_size")
    )


@register(
    "q11_important_values",
    oracle="""
    WITH supp_value AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,6))) AS DOUBLE)
               AS value
      FROM lineitem GROUP BY l_suppkey
    ),
    total AS (
      SELECT CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,6))) AS DOUBLE)
               AS tot
      FROM lineitem
    )
    SELECT l_suppkey, value
    FROM supp_value, total
    WHERE value > 0.0012 * tot
    ORDER BY value DESC, l_suppkey
    """,
    doc="TPC-H Q11 shape (partsupp absent — lineitem value per supplier): "
    "per-group sums kept only above a fraction of the GLOBAL total; the "
    "1-row total is broadcast into the filter (E14,E20)",
    tags=("relational", "agg", "tpch"),
)
def q11_important_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    value = F.col("l_extendedprice") * F.col("l_quantity")
    supp_value = li.groupBy("l_suppkey").agg(dsum(value).alias("value"))
    total = li.agg(dsum(value).alias("tot"))
    return (
        supp_value.crossJoin(F.broadcast(total))
        .where(F.col("value") > F.lit(0.0012) * F.col("tot"))
        .select("l_suppkey", "value")
        .orderBy(F.desc("value"), "l_suppkey")
    )


@register(
    "q9_product_profit",
    oracle="""
    SELECT n_name AS nation,
           EXTRACT(year FROM o_orderdate) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         - 0.6 * p_retailprice * l_quantity
                    AS DECIMAL(30,6))) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN part     ON l_partkey  = p_partkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 shape (partsupp absent — 0.6*p_retailprice*l_quantity "
    "stands in for ps_supplycost): 5-way join, profit per nation per "
    "year. nation broadcast (25 rows); part/supplier are O(SF) and "
    "left to AQE — at small scale it still builds broadcast hashes and "
    "the part LIKE filter prunes the fact early; the only big shuffle "
    "is lineitem x orders on orderkey (E13,E14,E20,E33)",
    tags=("relational", "join", "agg", "tpch"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(dsum(profit).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem
      GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT *, MIN(unit_cost) OVER (PARTITION BY l_partkey) AS best_cost
      FROM unit
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
           ROUND(unit_cost, 6) AS unit_cost
    FROM best
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE unit_cost = best_cost
      AND p_size BETWEEN 10 AND 25
      AND p_type = 'ECONOMY'
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, l_suppkey
    LIMIT 100
    """,
    doc="TPC-H Q2 shape (partsupp absent — min observed unit price from "
    "lineitem stands in for min ps_supplycost): the correlated "
    "min-subquery is decorrelated into a per-part window MIN + equality "
    "filter, so one shuffle on partkey serves both the aggregate and "
    "the 'is the minimum' test; nation broadcast, O(SF) dims AQE-"
    "planned (E13,E14,E25)",
    tags=("relational", "join", "window", "tpch"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_size").between(10, 25) & (F.col("p_type") == "ECONOMY")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    w = Window.partitionBy("l_partkey")
    best = unit.withColumn("best_cost", F.min("unit_cost").over(w))
    return (
        best.where(F.col("unit_cost") == F.col("best_cost"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("unit_cost", 6).alias("unit_cost"),
            "l_suppkey",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey", "l_suppkey")
        .limit(100)
        .drop("l_suppkey")
    )


@register(
    "q20_excess_suppliers",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey, l_partkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(30,6))) > 50
    )
    ORDER BY s_name
    """,
    doc="TPC-H Q20 shape (partsupp absent — per supplier x part shipped "
    "quantity stands in for available stock): aggregation-filtered IN "
    "becomes groupBy + HAVING + left-semi join; the HAVING output is "
    "supplier-cardinality — still O(SF), so the semi side is unhinted "
    "and AQE broadcasts it only when it is actually small (E15,E20)",
    tags=("relational", "join", "agg", "tpch"),
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    heavy = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(30,6)")).alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        supplier.join(
            heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_quantity >= 45
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_quantity >= 45)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
    doc="TPC-H Q21 shape (no receiptdate — quantity >= 45 stands in for "
    "'late'): the sole big-quantity supplier in multi-supplier 'F' "
    "orders. EXISTS -> left-semi and NOT EXISTS -> left-anti, both "
    "lineitem self-joins on orderkey with a supplier-inequality "
    "residual — all three legs share the orderkey shuffle key "
    "(E13,E15,E20)",
    tags=("relational", "join", "agg", "tpch"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    supplier = load_table(spark, sf_dir, "supplier")
    l1 = li.where(F.col("l_quantity") >= 45)
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.where(F.col("l_quantity") >= 45).select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )
