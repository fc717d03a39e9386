"""q01-q50: reference-parity relational band (TPC-H-ish joins/aggs/windows) + first pipeline operators

Split from the original single-module workload (round-4 verdict item
8) — purely mechanical: the @q decorator registers every query into
the shared registries in ``workload_base``; ``workload`` re-exports
them, so the driver contract is unchanged. Determinism rules live in
``workload_base``'s docstring.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_incremental_ci_spark.operators import (
    asof,
    dedup,
    packing,
    sampling,
    similarity,
    skew,
    text,
)
from dbt_incremental_ci_spark.plans.recursion import hierarchy_walk
from dbt_incremental_ci_spark.workload_base import (
    _LAZY_ORACLES,
    ORACLES,
    QUERIES,
    d,
    dec,
    events_table,
    get_oracles,
    q,
    t,
)

# =====================================================================
# §2.2 projections / filters  +  §2.4 aggregation — pricing summary
# (SURVEY A1/A2/A5/P3; shape of TPC-H Q1 over the driver's lineitem)
# =====================================================================
@q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_qty,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            d(F.sum(dec("l_quantity"))).alias("sum_qty"),
            d(F.sum(dec("l_extendedprice"))).alias("sum_base_price"),
            d(F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))).alias(
                "sum_disc_price"
            ),
            (d(F.sum(dec("l_quantity"))) / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# =====================================================================
# §2.2 P1-P7: projection, computed CASE buckets, BETWEEN, IN, LIKE/ILIKE
# =====================================================================
@q(
    "q02_filter_project",
    """
    SELECT p_partkey,
           p_name,
           CASE WHEN p_retailprice < 500 THEN 'budget'
                WHEN p_retailprice < 1200 THEN 'standard'
                ELSE 'premium' END AS price_band,
           CAST(p_size AS INT) AS p_size,
           CAST(p_retailprice AS DOUBLE) AS p_retailprice
    FROM part
    WHERE p_size BETWEEN 10 AND 40
      AND p_type IN ('ECONOMY', 'STANDARD', 'PROMO')
      AND p_brand <> 'Brand#13'
      AND lower(p_name) LIKE '%o%'
      AND p_retailprice IS NOT NULL
    """,
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").between(10, 40)
        & F.col("p_type").isin("ECONOMY", "STANDARD", "PROMO")
        & (F.col("p_brand") != "Brand#13")
        & F.lower(F.col("p_name")).like("%o%")
        & F.col("p_retailprice").isNotNull()
    ).select(
        "p_partkey",
        "p_name",
        F.when(F.col("p_retailprice") < 500, "budget")
        .when(F.col("p_retailprice") < 1200, "standard")
        .otherwise("premium")
        .alias("price_band"),
        F.col("p_size").cast("int").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )


# =====================================================================
# §2.3 J1/J3 joins + §2.6 O1/O2 top-k  (TPC-H Q3 shape)
# =====================================================================
@q(
    "q03_top_revenue_orders",
    """
    SELECT o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            d(F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))).alias("revenue")
        )
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"), "revenue")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# =====================================================================
# §2.4 A3/A4/A6: conditional aggregates (the reference's house style,
# count(case when …), count(distinct case when …), null-skipping avg)
# =====================================================================
@q(
    "q04_conditional_agg",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(CASE WHEN o_totalprice > 150000 THEN 1 END) AS BIGINT) AS n_big,
           CAST(COUNT(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_custkey END) AS BIGINT)
               AS n_f_customers,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
               / NULLIF(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS avg_f_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    is_f = F.col("o_orderstatus") == "F"
    n_f = F.count(F.when(is_f, 1))
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("o_totalprice") > 150000, 1)).alias("n_big"),
        F.countDistinct(F.when(is_f, F.col("o_custkey"))).alias("n_f_customers"),
        (d(F.sum(F.when(is_f, dec("o_totalprice")))) / F.when(n_f != 0, n_f)).alias(
            "avg_f_price"
        ),
    )


# =====================================================================
# §2.4 A7: pivot-style max(case when …)  per nation × market segment
# =====================================================================
@q(
    "q05_pivot_segments",
    """
    SELECT c_nationkey,
           CAST(MAX(CASE WHEN c_mktsegment = 'BUILDING'
                         THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS max_building,
           CAST(MAX(CASE WHEN c_mktsegment = 'MACHINERY'
                         THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS max_machinery,
           CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE'
                         THEN CAST(c_acctbal AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE)
               AS sum_automobile
    FROM customer
    GROUP BY c_nationkey
    """,
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")

    def seg(s: str) -> F.Column:
        return F.when(F.col("c_mktsegment") == s, dec("c_acctbal"))

    return c.groupBy("c_nationkey").agg(
        d(F.max(seg("BUILDING"))).alias("max_building"),
        d(F.max(seg("MACHINERY"))).alias("max_machinery"),
        d(F.sum(F.coalesce(seg("AUTOMOBILE"), F.lit(0).cast("decimal(18,2)")))).alias(
            "sum_automobile"
        ),
    )


# =====================================================================
# §2.4 A13: global (grand-total) aggregate, no GROUP BY
# =====================================================================
@q(
    "q06_global_kpis",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           CAST(MIN(l_shipdate) AS DATE) AS first_ship,
           CAST(MAX(l_shipdate) AS DATE) AS last_ship
    FROM lineitem
    """,
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        d(F.sum(dec("l_quantity"))).alias("total_qty"),
        F.min("l_shipdate").cast("date").alias("first_ship"),
        F.max("l_shipdate").cast("date").alias("last_ship"),
    )


# =====================================================================
# §2.4 A12: HAVING on aggregates
# =====================================================================
@q(
    "q07_having",
    """
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 550
    """,
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            d(F.sum(dec("l_quantity"))).alias("total_qty"),
        )
        .filter(F.col("n_items") > 550)
    )


# =====================================================================
# §2.4 A8/A9: stddev (sample) + Pearson corr  (rounded: float aggs)
# =====================================================================
@q(
    "q08_stats",
    """
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
           ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
    )


# =====================================================================
# §2.4 A10/A11 + §2.6 O3: ordered + distinct string aggregation
# =====================================================================
@q(
    "q09_string_agg",
    """
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.functions.agg import string_agg_ordered

    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            string_agg_ordered("n_name", ",").alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


@q(
    "q09b_string_agg_distinct",
    """
    SELECT c_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|') AS segments
    FROM customer
    GROUP BY c_nationkey
    """,
)
def q09b(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.functions.agg import string_agg_distinct

    c = t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        string_agg_distinct("c_mktsegment", "|").alias("segments")
    )


# =====================================================================
# §2.5 W1: row_number top-k per group (ties broken by key)
# =====================================================================
@q(
    "q10_topk_per_nation",
    """
    SELECT c_nationkey, c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal,
           CAST(rn AS INT) AS rn
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "c_nationkey",
            "c_custkey",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


# =====================================================================
# §2.5 W2/W3: lag over aggregate output (monthly revenue trend)
# =====================================================================
@q(
    "q11_monthly_trend",
    """
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT ym, revenue,
           lag(revenue) OVER (ORDER BY ym) AS prev_revenue,
           revenue - lag(revenue) OVER (ORDER BY ym) AS revenue_delta
    FROM monthly
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("int").alias("ym")
    ).agg(d(F.sum(dec("o_totalprice"))).alias("revenue"))
    w = Window.orderBy("ym")
    return monthly.select(
        "ym",
        "revenue",
        F.lag("revenue").over(w).alias("prev_revenue"),
        (F.col("revenue") - F.lag("revenue").over(w)).alias("revenue_delta"),
    )


# =====================================================================
# §2.5 W4: first_value with ordered window (default frame)
# =====================================================================
@q(
    "q12_first_order",
    """
    SELECT o_orderkey, o_custkey,
           CAST(first_value(o_orderdate) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS DATE) AS first_order_date,
           CAST(date_diff('day',
                 CAST(first_value(o_orderdate) OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey) AS DATE),
                 CAST(o_orderdate AS DATE)) AS INT) AS days_since_first
    FROM orders
    """,
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    first_dt = F.first("o_orderdate").over(w)
    return o.select(
        "o_orderkey",
        "o_custkey",
        first_dt.cast("date").alias("first_order_date"),
        F.datediff(F.col("o_orderdate").cast("date"), first_dt.cast("date"))
        .cast("int")
        .alias("days_since_first"),
    )


# =====================================================================
# §2.5 W5: percent_rank over global ordering — served by the
# distributed two-phase rank (operators/ranks.py), NOT the naive
# global window: Window.orderBy with no partition funnels the whole
# table through Exchange SinglePartition (the round-3 plan audit
# flagged exactly that here; supplier grows linearly with SF).
# Semantics are identical to SQL percent_rank incl. tie collapse.
# =====================================================================
@q(
    "q13_percent_rank",
    """
    SELECT s_suppkey,
           ROUND(percent_rank() OVER (ORDER BY s_acctbal), 6) AS balance_pct_rank
    FROM supplier
    """,
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.ranks import global_percent_rank

    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    return global_percent_rank(s, "s_acctbal", "s_suppkey").select(
        "s_suppkey", F.round(F.col("pct_rank"), 6).alias("balance_pct_rank")
    )


# =====================================================================
# §2.5 W6: aggregate over partition window (share-of-group)
# =====================================================================
@q(
    "q14_share_of_customer",
    """
    SELECT o_orderkey, o_custkey,
           ROUND(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                 / NULLIF(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                               OVER (PARTITION BY o_custkey) AS DOUBLE), 0), 6)
               AS share_of_customer
    FROM orders
    """,
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    tot = d(F.sum(dec("o_totalprice")).over(w))
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(d(dec("o_totalprice")) / F.when(tot != 0, tot), 6).alias(
            "share_of_customer"
        ),
    )


# =====================================================================
# §2.5 W7 at scale: grand-total share — NOT over() (single-partition
# shuffle); scalar agg + broadcast cross-join instead (SURVEY §4)
# =====================================================================
@q(
    "q15_nation_revenue_share",
    """
    WITH rev AS (
      SELECT c.c_nationkey,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS nation_rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    )
    SELECT c_nationkey,
           CAST(nation_rev AS DOUBLE) AS nation_revenue,
           ROUND(CAST(nation_rev AS DOUBLE)
                 / CAST(SUM(nation_rev) OVER () AS DOUBLE), 6) AS revenue_share
    FROM rev
    """,
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    rev = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o.o_custkey == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(F.sum(dec("o_totalprice")).alias("nation_rev"))
    )
    total = rev.agg(F.sum("nation_rev").alias("total_rev"))
    return rev.crossJoin(F.broadcast(total)).select(
        "c_nationkey",
        d(F.col("nation_rev")).alias("nation_revenue"),
        F.round(d(F.col("nation_rev")) / d(F.col("total_rev")), 6).alias("revenue_share"),
    )


# =====================================================================
# §2.3 J7: self theta-join, unordered pair generation (id < id)
# =====================================================================
@q(
    "q16_supplier_pairs",
    """
    SELECT a.s_nationkey AS nationkey,
           a.s_suppkey AS supp_a, b.s_suppkey AS supp_b,
           CAST(ABS(CAST(a.s_acctbal AS DECIMAL(18,2))
                    - CAST(b.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance_gap
    FROM supplier a
    JOIN supplier b
      ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
    """,
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = t(spark, sf_dir, "supplier")
    a = s.alias("a")
    b = s.alias("b")
    return a.join(
        b,
        (F.col("a.s_nationkey") == F.col("b.s_nationkey"))
        & (F.col("a.s_suppkey") < F.col("b.s_suppkey")),
    ).select(
        F.col("a.s_nationkey").alias("nationkey"),
        F.col("a.s_suppkey").alias("supp_a"),
        F.col("b.s_suppkey").alias("supp_b"),
        d(F.abs(dec(F.col("a.s_acctbal")) - dec(F.col("b.s_acctbal")))).alias(
            "balance_gap"
        ),
    )


# =====================================================================
# §2.3 J8: non-equi residual join (shipped > 90 days after order)
# =====================================================================
@q(
    "q17_late_shipments",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_late,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS late_value
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
               AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY o.o_orderpriority
    """,
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_late"),
            d(F.sum(dec("l_extendedprice"))).alias("late_value"),
        )
    )


# =====================================================================
# §2.3 J5: full outer join with coalesced key
# =====================================================================
@q(
    "q18_full_outer_nations",
    """
    WITH cust AS (
      SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_rich_customers
      FROM customer WHERE c_acctbal > 7000 GROUP BY c_nationkey
    ), supp AS (
      SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_poor_suppliers
      FROM supplier WHERE s_acctbal < 2000 GROUP BY s_nationkey
    )
    SELECT COALESCE(cust.nk, supp.nk) AS nationkey,
           COALESCE(n_rich_customers, 0) AS n_rich_customers,
           COALESCE(n_poor_suppliers, 0) AS n_poor_suppliers
    FROM cust FULL OUTER JOIN supp ON cust.nk = supp.nk
    """,
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    cust = (
        c.filter(F.col("c_acctbal") > 7000)
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count(F.lit(1)).alias("n_rich_customers"))
    )
    supp = (
        s.filter(F.col("s_acctbal") < 2000)
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count(F.lit(1)).alias("n_poor_suppliers"))
    )
    return cust.join(supp, cust.nk_c == supp.nk_s, "full_outer").select(
        F.coalesce("nk_c", "nk_s").alias("nationkey"),
        F.coalesce("n_rich_customers", F.lit(0)).alias("n_rich_customers"),
        F.coalesce("n_poor_suppliers", F.lit(0)).alias("n_poor_suppliers"),
    )


# =====================================================================
# §2.3 J4: right outer join (keep all customers)
# =====================================================================
@q(
    "q19_orders_per_customer",
    """
    SELECT c.c_custkey,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_open_orders
    FROM (SELECT * FROM orders WHERE o_orderstatus = 'P') o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_open_orders"))
    )


# =====================================================================
# §2.3 J6: cross join of dimension × single-row aggregate
# =====================================================================
@q(
    "q20_region_vs_global",
    """
    SELECT r.r_name,
           CAST(g.global_avg AS DOUBLE) AS global_avg_balance
    FROM region r
    CROSS JOIN (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS global_avg
      FROM customer
    ) g
    """,
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = t(spark, sf_dir, "region")
    c = t(spark, sf_dir, "customer")
    g = c.agg((d(F.sum(dec("c_acctbal"))) / F.count(F.lit(1))).alias("global_avg"))
    return r.crossJoin(F.broadcast(g)).select(
        "r_name", F.col("global_avg").cast("double").alias("global_avg_balance")
    )


# =====================================================================
# §2.3 J10: anti-join (customers with no completed 'F' orders)
# =====================================================================
@q(
    "q21_anti_join",
    """
    SELECT c_custkey, c_nationkey
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    """,
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_nationkey"
    )


# =====================================================================
# §2.3 J11: semi-join (EXISTS)
# =====================================================================
@q(
    "q22_semi_join",
    """
    SELECT c_custkey
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    """,
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


# =====================================================================
# §2.7 U1: UNION ALL conformed-KPI stack
# =====================================================================
@q(
    "q23_union_kpis",
    """
    SELECT 'total_customers' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM customer
    UNION ALL
    SELECT 'total_orders' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM orders
    UNION ALL
    SELECT 'total_order_value' AS metric,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value FROM orders
    """,
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    b1 = c.agg(F.count(F.lit(1)).cast("double").alias("value")).select(
        F.lit("total_customers").alias("metric"), "value"
    )
    b2 = o.agg(F.count(F.lit(1)).cast("double").alias("value")).select(
        F.lit("total_orders").alias("metric"), "value"
    )
    b3 = o.agg(d(F.sum(dec("o_totalprice"))).alias("value")).select(
        F.lit("total_order_value").alias("metric"), "value"
    )
    return b1.unionByName(b2).unionByName(b3)


# =====================================================================
# §2.8 R1: recursive hierarchy walk (WITH RECURSIVE substitute).
# Synthetic binary-tree hierarchy over part: parent(k) = k // 2;
# mirrors int_course_prerequisite_chains.sql:3-36 (depth cap, path
# string).
# =====================================================================
@q(
    "q24_recursive_hierarchy",
    """
    WITH RECURSIVE chain AS (
      SELECT p_partkey, CAST(0 AS INT) AS depth,
             CAST(p_partkey AS VARCHAR) AS path
      FROM part WHERE p_partkey = 1
      UNION ALL
      SELECT p.p_partkey, c.depth + 1,
             c.path || '->' || CAST(p.p_partkey AS VARCHAR)
      FROM part p JOIN chain c ON p.p_partkey // 2 = c.p_partkey
      WHERE p.p_partkey > 1 AND c.depth < 10
    )
    SELECT p_partkey, depth, path FROM chain
    """,
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each part has one parent, so hierarchy_walk takes its log-depth
    # path: 4 doubling joins for the cap of 10, 9 Spark jobs per call
    # at sf0.01. Spark 4.1's native WITH RECURSIVE ran 53 here (51
    # executing the plan; each recursion level runs jobs of its own),
    # the level-by-level loop 40.
    p = t(spark, sf_dir, "part").select("p_partkey")
    edges = p.filter(F.col("p_partkey") > 1).select(
        F.col("p_partkey").alias("node"), F.expr("p_partkey DIV 2").alias("parent")
    )
    seeds = p.filter(F.col("p_partkey") == 1).select(F.col("p_partkey").alias("node"))
    return hierarchy_walk(edges, seeds, max_depth=10).select(
        F.col("node").alias("p_partkey"), "depth", "path"
    )


# =====================================================================
# §2.11 I1/I2: incremental watermark filter (scalar watermark read as a
# literal first — the partition-pruning-friendly plan, SURVEY §4)
# =====================================================================
@q(
    "q25_incremental_watermark",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS new_value
    FROM events
    WHERE ts > (SELECT MAX(ts) FROM events
                WHERE event_id < (SELECT MAX(event_id) / 2 FROM events))
    GROUP BY event_type
    """,
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    # driver-bound: 1 scalar row — simulated watermark split point
    half = ev.agg((F.max("event_id") / 2).alias("h")).collect()[0]["h"]
    # driver-bound: 1 scalar row — simulated watermark value
    wm = ev.filter(F.col("event_id") < half).agg(F.max("ts").alias("wm")).collect()[0]["wm"]
    return (
        ev.filter(F.col("ts") > F.lit(wm))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            d(F.sum(dec("value"))).alias("new_value"),
        )
    )


# =====================================================================
# Dedup: exact (hash-groupBy on content digest)
# =====================================================================
@q(
    "q26_exact_dedup",
    """
    SELECT md5(text) AS digest,
           CAST(MIN(doc_id) AS BIGINT) AS survivor_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("survivor_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# =====================================================================
# Text analysis: token counts / punct ratio / quality / fingerprint
# =====================================================================
@q(
    "q27_text_stats",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
             length(text) AS n_chars_total,
             length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS n_punct
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
           ROUND(CASE WHEN n_chars_total > 0
                      THEN CAST(n_punct AS DOUBLE) / n_chars_total ELSE 0 END, 6)
               AS punct_ratio,
           ROUND(0.5 * least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
                 + 0.5 * (CASE WHEN len(toks) > 0
                               THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                               ELSE 0 END)
                 - least(CASE WHEN n_chars_total > 0
                              THEN CAST(n_punct AS DOUBLE) / n_chars_total ELSE 0 END,
                         0.5), 6) AS quality_score,
           md5(array_to_string(list_sort(list_distinct(
               list_transform(toks, x -> lower(x)))), ' ')) AS fingerprint
    FROM tok
    """,
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = text.tokens("text")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(text.punct_ratio("text"), 6).alias("punct_ratio"),
        text.quality_score("text").alias("quality_score"),
        text.fingerprint("text").alias("fingerprint"),
    )


# =====================================================================
# Text analysis: stopword-vote language ID
# =====================================================================
def _langid_oracle() -> str:
    lists = {
        code: ", ".join(f"'{w}'" for w in text.STOPWORDS[code]) for code in text.STOPWORDS
    }
    score = {
        code: (
            f"len(list_filter(list_transform(list_filter(string_split_regex(text, '\\s+'),"
            f" x -> x <> ''), x -> lower(x)), x -> list_contains([{lists[code]}], x)))"
        )
        for code in lists
    }
    return f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {score['en']} AS s_en, {score['es']} AS s_es,
             {score['de']} AS s_de, {score['fr']} AS s_fr
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                WHEN s_fr = greatest(s_en, s_es, s_de, s_fr) THEN 'fr'
                WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                ELSE 'de' END AS lang_pred
    FROM scored
    """


@q("q28_lang_id", _langid_oracle())
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", text.lang_id("text").alias("lang_pred"))


# =====================================================================
# Similarity search: brute-force cosine top-k (exact baseline).
# Rank on ROUNDED cosine + id so Spark/DuckDB orderings agree.
# =====================================================================
@q(
    "q29_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.qv, e.embedding::DOUBLE[])
                   / NULLIF(sqrt(list_dot_product(q.qv, q.qv))
                            * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                    e.embedding::DOUBLE[])), 0),
                   6) AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
    )


# =====================================================================
# Sessionization over the events stream table (gap > 30 min ⇒ new
# session): lag + running sum — batch analogue of stateful streaming.
# =====================================================================
@q(
    "q30_sessionize",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL THEN 1
                  WHEN date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                       ts) > 1800 THEN 1
                  ELSE 0 END AS is_new_session
      FROM events
    )
    SELECT user_id,
           CAST(SUM(is_new_session) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM flagged
    GROUP BY user_id
    """,
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir).withColumn(
        # epoch seconds (floor), matching DuckDB date_diff('second', …)
        # boundary-crossing semantics; integer div keeps nanos exact
        "ts_sec",
        F.expr("CAST(ts DIV 1000000000 AS BIGINT)"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_sec = F.lag("ts_sec").over(w)
    is_new = (
        F.when(prev_sec.isNull(), 1)
        .when(F.col("ts_sec") - prev_sec > 1800, 1)
        .otherwise(0)
    )
    return (
        ev.withColumn("is_new_session", is_new)
        .groupBy("user_id")
        .agg(
            F.sum("is_new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# =====================================================================
# JSON property extraction from the events props column
# =====================================================================
@q(
    "q31_json_extract",
    r"""
    SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT)
               AS sum_k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n")
    )


# =====================================================================
# MinHash+LSH near-dup pipeline vs a GROUND-TRUTH oracle: DuckDB
# brute-forces exact char-5-shingle Jaccard >= 0.7 over all pairs; the
# LSH pipeline's output must equal that set exactly (banding at t=0.7
# has recall 1.0 on this corpus — near-dups are ~0.97+ similar — and
# the verify stage makes precision exact by construction). The sketch
# hashes themselves never need replicating: only the exact-Jaccard
# contract is compared.
# =====================================================================
@q(
    "q32_minhash_near_dups",
    r"""
    WITH sh AS (
      SELECT doc_id,
             CASE WHEN strlen(lower(text)) >= 5 THEN
               list_distinct(list_transform(
                 generate_series(1, strlen(lower(text)) - 4),
                 i -> substr(lower(text), i, 5)))
             ELSE [lower(text)] END AS s
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) >= 0.7
    """,
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.7)


@q("q33_simhash_near_dups")
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=12)


def _q33_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    """Expected-pairs VALUES oracle for the SimHash pipeline.

    xxhash64 doesn't exist in DuckDB, but the corpus is fixed and the
    driver compares at sf0.01 — so the oracle recomputes the whole
    pipeline INDEPENDENTLY in pure Python: public-spec XXH64
    (functions/xxh64.py, unit-tested bit-compatible with Spark's
    xxhash64), per-bit token voting, 16-bit-chunk candidate banding,
    hamming ≤ 12 — and inlines the resulting pairs as literals. Any
    divergence in tokenization, voting, banding, or popcount between
    the Spark operator and this replica fails the hash compare.
    """
    import re
    from collections import defaultdict

    import numpy as np

    try:
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
        )
    except Exception:
        return None  # corpus unavailable → driver falls back to rows-only
    from dbt_incremental_ci_spark.functions.xxh64 import xxh64

    shifts = np.arange(64, dtype=np.uint64)
    sigs: dict[int, int] = {}
    for doc_id, text in zip(
        tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()
    ):
        toks = [tok for tok in re.split(r"\s+", (text or "").lower()) if tok]
        if not toks:
            sigs[doc_id] = 0
            continue
        hashes = np.array(
            [xxh64(tok.encode("utf-8"), 42) for tok in toks], dtype=np.uint64
        )
        ones = ((hashes[:, None] >> shifts[None, :]) & np.uint64(1)).sum(axis=0)
        votes = 2 * ones.astype(np.int64) - len(toks)
        sig = 0
        for b in range(64):
            if votes[b] > 0:
                sig |= 1 << b
        sigs[doc_id] = sig
    buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
    for i, s in sigs.items():
        for c in range(4):
            buckets[(c, (s >> (c * 16)) & 0xFFFF)].append(i)
    pairs: set[tuple[int, int]] = set()
    for ids in buckets.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                pairs.add((ids[x], ids[y]))
    rows = [
        f"({a},{b},{(sigs[a] ^ sigs[b]).bit_count()})"
        for a, b in sorted(pairs)
        if (sigs[a] ^ sigs[b]).bit_count() <= 12
    ]
    if not rows:
        return None
    return (
        "SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, "
        "CAST(hamming AS INT) AS hamming FROM (VALUES "
        + ",".join(rows)
        + ") AS t(id_a, id_b, hamming)"
    )


_LAZY_ORACLES["q33_simhash_near_dups"] = _q33_oracle


@q("q34_lsh_ann_topk")
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_topk(emb, queries, k=5, dim=64, n_planes=6)


# =====================================================================
# Tumbling-window aggregation over the event stream (batch twin of the
# streaming windowed_event_counts; hour buckets via exact integer
# arithmetic on epoch nanos so Spark and DuckDB agree bit-for-bit)
# =====================================================================
@q(
    "q35_tumbling_windows",
    """
    SELECT CAST(date_part('epoch', date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    hour = F.expr("CAST((ts DIV 3600000000000) * 3600 AS BIGINT)")
    return (
        ev.groupBy(hour.alias("hour_epoch"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            d(F.sum(dec("value"))).alias("total_value"),
        )
    )


# =====================================================================
# Embedding-cosine near-duplicate pairs (LSH-blocked at scale). The
# synthetic corpus has no true near-duplicates (max pairwise cosine
# ≈ 0.44), so the query PLANTS deterministic twins — vec_id < 50 get a
# copy at id+1000000 with each dim scaled by 1 ± ≤3% (cosine ≈ 0.999)
# — and runs the real production threshold 0.95 over the LSH-blocked
# pipeline. Fully value-oracled: the perturbation, the hyperplane
# buckets (inlined constants) and the cosine all reproduce in DuckDB.
# =====================================================================
def _q36_perturbed_union(emb: DataFrame) -> DataFrame:
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    # two steps: perturb first, THEN rename — in a single select the
    # lambda's `vec_id` resolves against the aliased output (id+1000000)
    twins = (
        base.filter(F.col("vec_id") < 50)
        .withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: x
                * (1.0 + ((F.col("vec_id") + i) % 7 - F.lit(3)) / F.lit(100.0)),
            ),
        )
        .select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )
    return base.unionByName(twins)


@q("q36_embedding_near_dups")
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    unioned = _q36_perturbed_union(emb)
    # Banded SRP-LSH (4 bands × adaptive planes): fixed-plane blocking
    # was quadratic in scale (26.6× wall for the 10× sf1 step); the
    # adaptive plane count keeps expected bucket size ~64 at any n and
    # banding keeps recall up as planes grow. At every correctness SF
    # (sf0.001/0.01/0.1) adaptive resolves to the clamp floor of 6
    # planes — exactly what the DuckDB oracle inlines.
    return dedup.embedding_near_dup_pairs_banded(
        unioned, "vec_id", "embedding", dim=64, threshold=0.95,
        bands=4, planes_per_band=None, target_block=64, seed=42,
    )


def _q36_oracle() -> str:
    """DuckDB replica of q36: same planted twins, same inlined
    hyperplanes per band (q34 technique), same L2-normalize-then-dot
    cosine; candidates = pairs agreeing in ANY of the 4 bands (OR-join
    twin of the banded explode), then the same hamming-estimate
    prefilter over all 24 sign bits (bit_count(xor) ≤ ham_max) the
    operator applies before its exact verify — value-exact, including
    LSH recall behavior. Inlines 6 planes per band: the adaptive plane
    count resolves to its clamp floor of 6 at every correctness SF."""
    import math

    from dbt_incremental_ci_spark.operators.similarity import _hyperplane

    def arr(plane: list[float]) -> str:
        return "[" + ",".join(repr(x) for x in plane) + "]"

    def bucket_terms(band: int) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product(v, {arr(_hyperplane(64, p, 42 + 1000 * band))})"
            f" >= 0 THEN {1 << p} ELSE 0 END)"
            for p in range(6)
        )

    bkt_cols = ",\n                 ".join(
        f"({bucket_terms(band)}) AS bkt{band}" for band in range(4)
    )
    any_band = " OR ".join(f"a.bkt{band} = x.bkt{band}" for band in range(4))
    # same ham_max formula as embedding_near_dup_pairs_banded:
    # bands=4 × planes=6 bits, frac = min(0.45, 2.5·acos(0.95)/π)
    ham_max = int(4 * 6 * min(0.45, 2.5 * math.acos(0.95) / math.pi))
    ham_sum = " + ".join(
        f"bit_count(xor(a.bkt{band}::BIGINT, x.bkt{band}::BIGINT))"
        for band in range(4)
    )
    return f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    twins AS (
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(generate_series(1, 64),
                            i -> v[i] * (1.0 + ((vec_id + i - 1) % 7 - 3) / 100.0)) AS v
      FROM base WHERE vec_id < 50
    ),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
    b AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v,
                 {bkt_cols}
          FROM u)
    SELECT a.vec_id AS id_a, x.vec_id AS id_b,
           ROUND(list_dot_product(a.v, x.v), 6) AS cosine
    FROM b a JOIN b x ON a.vec_id < x.vec_id AND ({any_band})
    WHERE {ham_sum} <= {ham_max}
      AND ROUND(list_dot_product(a.v, x.v), 6) >= 0.95
    """


ORACLES["q36_embedding_near_dups"] = _q36_oracle()


# =====================================================================
# Multimodal plumbing: synthesize binary payloads from documents, then
# run the Arrow-batched feature extractor. Full value oracle: the stub
# feature is a sha256 derivation, reproducible in DuckDB — each of the
# 8 dims is the digest's i-th 4-byte window as u32; the query emits
# those windows as exact BIGINTs (f0..f7) plus a feature_ok flag
# asserting the operator's array<float> column agrees with them (the
# floats themselves can't be hash-compared across engines).
# =====================================================================
@q(
    "q37_multimodal_features",
    """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(strlen(text) AS INT) AS n_bytes,
           sha256(text) AS digest,
    """
    + ",\n".join(
        f"           ('0x' || substr(sha256(text), {8 * i + 1}, 8))::BIGINT AS f{i}"
        for i in range(8)
    )
    + """,
           TRUE AS feature_ok
    FROM documents
    """,
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import multimodal as mm

    docs = t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = mm.extract_features(media, dim=8)
    fcols = [
        F.conv(F.substring("digest", 8 * i + 1, 8), 16, 10)
        .cast("bigint")
        .alias(f"f{i}")
        for i in range(8)
    ]
    # |float32(u32/2^32) - u32/2^32| <= 2^-25 — 1e-6 bounds it safely
    ok = F.aggregate(
        F.zip_with(
            F.col("feature"),
            F.array(*[c / F.lit(4294967296.0) for c in fcols]),
            lambda a, b: F.abs(a.cast("double") - b) < 1e-6,
        ),
        F.lit(True),
        lambda acc, x: acc & x,
    )
    return feats.select(
        "media_id", "media_type", "n_bytes", "digest", *fcols, ok.alias("feature_ok")
    )


# =====================================================================
# n-gram (word) Jaccard near-dup verification on a fixed pair set —
# SQL-expressible, so it carries a full DuckDB oracle
# =====================================================================
@q(
    "q38_ngram_jaccard",
    r"""
    WITH grams AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(toks) - 1),
                                          i -> toks[i] || ' ' || toks[i + 1]))
                 AS gset
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS toks
        FROM documents WHERE doc_id < 40
      )
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.gset, b.gset)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.gset, b.gset))), 6) AS jaccard
    FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    """,
)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    gset = dedup.word_ngrams("text", 2)
    g = docs.select(F.col("doc_id").alias("__sid"), gset.alias("__set"))
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(b, F.col("a.__sid") < F.col("b.__sid"))
        .select(
            F.col("a.__sid").alias("id_a"),
            F.col("b.__sid").alias("id_b"),
            F.round(
                F.size(F.array_intersect("a.__set", "b.__set")).cast("double")
                / F.size(F.array_union("a.__set", "b.__set")),
                6,
            ).alias("jaccard"),
        )
    )


# =====================================================================
# §2.4 extension surface: ROLLUP hierarchies (noted in SURVEY §2.4 as
# "trivially available" — demonstrated with a full oracle)
# =====================================================================
@q(
    "q39_rollup",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            d(F.sum(dec("l_quantity"))).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


# =====================================================================
# Approximate distinct counting (HLL). The sketch value differs per
# engine, so the oracle checks the CONTRACT instead: the exact count
# hash-matches, and a within_tolerance boolean asserts the sketch is
# inside its configured error envelope (rsd=0.02; bound 5% ≈ 2.5σ).
# =====================================================================
@q(
    "q40_approx_distinct",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS within_tolerance
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    err = F.abs(F.col("approx_orders") - F.col("exact_orders")) / F.col(
        "exact_orders"
    )
    return agg.select(
        "l_returnflag", "exact_orders", (err <= 0.05).alias("within_tolerance")
    )


# =====================================================================
# Approximate quantiles with a tolerance contract (the sketch twin of
# q46's exact path): approx_percentile is a Greenwald-Khanna mergeable
# sketch — one partial-agg pass, no per-group sort — the right plan at
# 100 TB. Accuracy is engine-specific, so the oracle checks the
# CONTRACT: the approximate p50/p90 must land within the 1% rank band
# of the exact distribution (verified in-plan against exact
# percentiles at ranks 0.49/0.51 and 0.89/0.91).
# =====================================================================
@q(
    "q49_approx_quantiles",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS p50_in_band,
           TRUE AS p90_in_band
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("double")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx(qty, F.lit(0.5), F.lit(10000)).alias("a50"),
        F.percentile_approx(qty, F.lit(0.9), F.lit(10000)).alias("a90"),
        F.percentile(qty, F.lit(0.49)).alias("e49"),
        F.percentile(qty, F.lit(0.51)).alias("e51"),
        F.percentile(qty, F.lit(0.89)).alias("e89"),
        F.percentile(qty, F.lit(0.91)).alias("e91"),
    )
    in_band = lambda a, lo, hi: (F.col(a) >= F.col(lo)) & (F.col(a) <= F.col(hi))  # noqa: E731
    return agg.select(
        "l_returnflag",
        "n",
        in_band("a50", "e49", "e51").alias("p50_in_band"),
        in_band("a90", "e89", "e91").alias("p90_in_band"),
    )


# =====================================================================
# Skew-salted fact-to-dim join: identical semantics to the plain join
# (the oracle IS the plain join), but the hot key's rows spread over
# `salts` reducers — the deterministic fallback when AQE's skew split
# can't help (shuffled-hash build, single monster key). Money math in
# decimal before the double cast, per the determinism rules.
# =====================================================================
@q(
    "q50_salted_join",
    """
    SELECT p.p_brand,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    """,
)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_extendedprice", "l_discount"
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = skew.salted_join(li, part, on=["p_partkey"], salts=8)
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return joined.groupBy("p_brand").agg(
        d(F.sum(rev)).alias("revenue"), F.count(F.lit(1)).alias("n_items")
    )


# =====================================================================
# Deterministic hash sampling + train/val/test split (training-data
# reproducibility: a key keeps its sample membership and split forever,
# independent of partitioning/engine — md5-derived uniform, replicated
# verbatim in DuckDB)
# =====================================================================
def _q41_oracle() -> str:
    from dbt_incremental_ci_spark.operators.sampling import hash_uniform_sql

    u1 = hash_uniform_sql("doc_id", "bench")
    u2 = hash_uniform_sql("doc_id", "split")
    # build the CASE with the SAME float accumulation as hash_split
    # (0.8 + 0.1 != 0.9 exactly in binary — the literals must match)
    weights = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    case, hi = "CASE", 0.0
    for name, wgt in weights[:-1]:
        hi += wgt
        case += f" WHEN u2 < {hi!r} THEN '{name}'"
    case += f" ELSE '{weights[-1][0]}' END"
    return f"""
    SELECT doc_id, ROUND(u1, 6) AS u_sample, {case} AS split
    FROM (SELECT doc_id, {u1} AS u1, {u2} AS u2 FROM documents)
    WHERE u1 < 0.5
    """


@q("q41_hash_sample_split", _q41_oracle())
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    sampled = sampling.hash_sample(docs, "doc_id", 0.5, salt="bench")
    split = sampling.hash_split(
        sampled, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="split"
    )
    return split.select(
        "doc_id",
        F.round(sampling.hash_uniform("doc_id", "bench"), 6).alias("u_sample"),
        "split",
    )


# =====================================================================
# Sequence packing (concat-and-chunk) — the distributed prefix sum is
# the scale-critical part: two-phase (range partition → local window →
# broadcast offsets), never a single-task global window. DuckDB's
# single-node global window is the ground truth it must equal.
# =====================================================================
@q(
    "q42_sequence_packing",
    r"""
    WITH tok AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS tok_end
      FROM tok
    )
    SELECT doc_id, n_tokens,
           CAST(tok_end - n_tokens AS BIGINT) AS tok_start,
           CAST(tok_end AS BIGINT) AS tok_end,
           CAST((tok_end - n_tokens) // 2048 AS BIGINT) AS bin_start,
           CAST((tok_end - 1) // 2048 AS BIGINT) AS bin_end
    FROM c
    """,
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    with_tok = docs.select("doc_id", text.token_count("text").alias("n_tok"))
    return packing.pack_sequences(with_tok, "doc_id", "n_tok", context_len=2048)


# =====================================================================
# IVF-style ANN (Voronoi inverted lists + nprobe) — the second
# billion-scale ANN layout next to q34's hyperplane LSH. Centroids are
# deterministic constants, so the full pipeline (assignment, probe
# selection, in-list cosine top-k) replays in DuckDB.
# =====================================================================
def _q43_oracle(dim: int = 64, n_centroids: int = 8, nprobe: int = 2) -> str:
    from dbt_incremental_ci_spark.operators.similarity import ivf_centroid

    def arr(vec: list[float]) -> str:
        return "[" + ",".join(repr(x) for x in vec) + "]"

    dist_terms = ", ".join(
        f"ROUND(list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> (v[i] - ({arr(ivf_centroid(dim, cid))})[i])"
        f" * (v[i] - ({arr(ivf_centroid(dim, cid))})[i]))), 9)"
        for cid in range(n_centroids)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    d AS (SELECT vec_id, v, [{dist_terms}] AS dists FROM e),
    c AS (SELECT vec_id AS neighbor_id, v AS cv,
                 CAST(list_position(dists, list_min(dists)) - 1 AS INT) AS lst
          FROM d),
    q AS (SELECT vec_id AS query_id, v AS qv,
                 list_transform(
                   list_slice(
                     list_sort(list_transform(generate_series(1, {n_centroids}),
                                              ci -> {{'d': dists[ci], 'c': ci - 1}})),
                     1, {nprobe}),
                   s -> s.c) AS probes
          FROM d WHERE vec_id < 10),
    qp AS (SELECT query_id, qv, unnest(probes) AS probe FROM q),
    scored AS (
      SELECT query_id, neighbor_id,
             ROUND(list_dot_product(qv, cv)
                   / NULLIF(sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(cv, cv)), 0), 6) AS cosine
      FROM qp JOIN c ON c.lst = qp.probe AND c.neighbor_id <> qp.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@q("q43_ivf_ann_topk", _q43_oracle())
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(
        emb, queries, k=5, dim=64, n_centroids=8, nprobe=2
    )


# =====================================================================
# PII scrubbing — regex redaction + audit counts. PII is PLANTED
# deterministically (every 5th doc gets an email/phone/SSN suffix) so
# the redaction paths actually fire; patterns live in the Java∩RE2
# common dialect and DuckDB replays them with the 'g' flag.
# =====================================================================
def _q44_oracle() -> str:
    from dbt_incremental_ci_spark.operators.text import PII_PATTERNS

    em, ph, ssn = PII_PATTERNS["email"], PII_PATTERNS["phone"], PII_PATTERNS["ssn"]
    return f"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN
               text || ' contact: user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-123-4567 ssn 123-45-6789'
             ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{em}', '<EMAIL>', 'g'),
               '{ssn}', '<SSN>', 'g'),
               '{ph}', '<PHONE>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text, '{em}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(text, '{ph}')) AS INT) AS n_phone,
           CAST(len(regexp_extract_all(text, '{ssn}')) AS INT) AS n_ssn
    FROM planted
    """


@q("q44_pii_scrub", _q44_oracle())
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                "text",
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567 ssn 123-45-6789"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    counts = text.pii_counts("text")
    return planted.select(
        "doc_id",
        text.scrub_pii("text").alias("scrubbed"),
        *[c.alias(f"n_{kind}") for kind, c in counts.items()],
    )


# =====================================================================
# Native session windows (F.session_window) — the engine-native form
# of q30's manual gap-and-islands sessionization, shared verbatim with
# the streaming pipeline (streaming/pipeline.session_event_counts).
# Oracle: classic gap-and-islands SQL; a session's end is
# last-event + gap and an event at EXACTLY gap distance opens a new
# session (Spark's [start, last+gap) exclusivity — oracle uses >=).
# =====================================================================
@q(
    "q45_session_windows",
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events
    ),
    f AS (
      SELECT user_id, t,
             CASE WHEN lag(t) OVER w IS NULL
                       OR t - lag(t) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
    ),
    g AS (
      SELECT user_id, t,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
      FROM f
    )
    SELECT user_id,
           epoch_us(MIN(t)) AS session_start_us,
           epoch_us(MAX(t) + INTERVAL 30 MINUTE) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM g GROUP BY user_id, sid
    """,
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.streaming.pipeline import session_event_counts

    ev = events_table(spark, sf_dir).withColumn(
        "t", F.timestamp_micros(F.expr("ts DIV 1000"))
    )
    out = session_event_counts(ev, "t", gap="30 minutes", group_cols=["user_id"])
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


# =====================================================================
# Exact interpolated quantiles per group (the distributed exact path —
# Spark's `percentile` sorts within each group; at scale per-group
# sorting shuffles once on the group key. DuckDB's quantile_cont uses
# the same linear interpolation; results rounded to 6.)
# =====================================================================
@q(
    "q46_quantiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6) AS p50,
           ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9), 6) AS p90,
           ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 6)
               AS price_p50
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile(F.col("l_quantity").cast("double"), F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile(F.col("l_quantity").cast("double"), F.lit(0.9)), 6).alias("p90"),
        F.round(
            F.percentile(F.col("l_extendedprice").cast("double"), F.lit(0.5)), 6
        ).alias("price_p50"),
    )


# =====================================================================
# Backward as-of join (attribution: each purchase event's most recent
# prior view by the same user). Spark has no ASOF JOIN; the operator
# uses the union-merge plan — one shuffle on user_id, per-key sorted
# carry-forward — instead of the quadratic join+argmax rewrite. DuckDB
# replicates via join + row_number argmax with the same (ts desc, id
# desc) tiebreak. Gap is integer seconds on exact nanos, no floats.
# =====================================================================
@q(
    "q47_asof_attribution",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         v AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'view'),
         j AS (
           SELECT p.event_id, p.user_id, v.event_id AS last_view_id,
                  (epoch_ns(p.ts) - epoch_ns(v.ts)) // 1000000000 AS gap_sec,
                  row_number() OVER (PARTITION BY p.event_id
                                     ORDER BY v.ts DESC, v.event_id DESC) AS rn
           FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
         )
    SELECT event_id, user_id, last_view_id,
           CAST(gap_sec AS BIGINT) AS gap_sec
    FROM j WHERE rn = 1
    """,
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("vts"),
        F.col("event_id").alias("last_view_id"),
    )
    joined = asof.asof_join_backward(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="vts",
        right_payload=["last_view_id", "vts"],
        tiebreak="last_view_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        "last_view_id",
        F.expr("(ts - vts) DIV 1000000000").alias("gap_sec"),
    )


# =====================================================================
# Keyless range (interval) join: error events within 5 minutes AFTER
# any purchase, cross-user. With no equi key Spark would plan a
# BroadcastNestedLoopJoin (O(|L| x |R|)); the operator buckets the
# time axis into window-width bins and equi-joins on the bin, so each
# qualifying pair meets in exactly one bin. DuckDB brute-forces the
# inequality join as ground truth.
# =====================================================================
@q(
    "q48_range_join",
    """
    SELECT p.event_id AS p_id, e.event_id AS e_id,
           CAST((epoch_ns(e.ts) - epoch_ns(p.ts)) // 1000000000 AS BIGINT)
               AS delta_sec
    FROM events p JOIN events e
      ON p.event_type = 'purchase' AND e.event_type = 'error'
     AND epoch_ns(e.ts) >= epoch_ns(p.ts)
     AND epoch_ns(e.ts) <= epoch_ns(p.ts) + 300000000000
    """,
)
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("ts").alias("pts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"), F.col("ts").alias("ets")
    )
    pairs = asof.range_join(
        purchases, errors, left_ts="pts", right_ts="ets",
        lower=0, upper=300_000_000_000,
    )
    return pairs.select(
        "p_id", "e_id", F.expr("(ets - pts) DIV 1000000000").alias("delta_sec")
    )


# =====================================================================
# Stratified deterministic sampling (training-mix rebalance: keep all
# of the rare languages, downsample the dominant one). Same md5
# variate as q41, so the DuckDB oracle replays it exactly; the rate
# lookup is a CASE chain — still a pure per-row filter, no shuffle.
# =====================================================================
def _q51_oracle() -> str:
    from dbt_incremental_ci_spark.operators.sampling import hash_uniform_sql

    u = hash_uniform_sql("doc_id", "mix")
    rates = ("CASE lang WHEN 'en' THEN 0.25 WHEN 'zh' THEN 0.5 "
             "WHEN 'de' THEN 1.0 WHEN 'fr' THEN 1.0 ELSE 0.0 END")
    return f"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
           ROUND(SUM({u}), 6) AS u_sum
    FROM documents WHERE {u} < {rates}
    GROUP BY lang
    """
