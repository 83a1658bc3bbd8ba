"""TPC-H reports adapted to the driver's star schema (TESTDATA.md,
FIXTURES.md §2), plus the exact-decimal money/quantity casts every
relational query shares. Small dims are ``broadcast()`` where they join
the ``lineitem``/``orders`` facts; fact-fact joins shuffle on the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_tables
from .registry import query


# Exact-decimal casts (see registry docstring). Data domains: prices < 1e8
# with 2 decimals, discount/tax in [0,1) with 2 decimals, quantity integral.
QTY = "CAST(l_quantity AS DECIMAL(12,2))"


PRICE = "CAST(l_extendedprice AS DECIMAL(12,2))"


DISC = "CAST(l_discount AS DECIMAL(3,2))"


TAX = "CAST(l_tax AS DECIMAL(3,2))"


ONE = "CAST(1 AS DECIMAL(3,2))"


DISC_PRICE = f"{PRICE} * ({ONE} - {DISC})"


CHARGE = f"{DISC_PRICE} * ({ONE} + {TAX})"


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM({QTY}) AS DOUBLE) AS sum_qty,
           CAST(SUM({PRICE}) AS DOUBLE) AS sum_base_price,
           CAST(SUM({DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({CHARGE}) AS DOUBLE) AS sum_charge,
           CAST(SUM({QTY}) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM({PRICE}) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM({DISC}) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("relational", "agg", "bench"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan-filter-aggregate over the fact.

    Plan shape to verify with .explain: parquet scan with PushedFilters on
    l_shipdate + partial hash agg (map-side combine) + final agg — one shuffle
    of pre-aggregated rows only (|groups| = 6), safe at any scale.
    """
    t = load_tables(spark, sf_dir, "lineitem")
    return (
        t.lineitem.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.expr(QTY)).cast("double").alias("sum_qty"),
            F.sum(F.expr(PRICE)).cast("double").alias("sum_base_price"),
            F.sum(F.expr(DISC_PRICE)).cast("double").alias("sum_disc_price"),
            F.sum(F.expr(CHARGE)).cast("double").alias("sum_charge"),
            (F.sum(F.expr(QTY)).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(F.expr(PRICE)).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(F.expr(DISC)).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(SUM({DISC_PRICE}) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("relational", "join", "topk", "bench"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: dim-filtered fact join + grouped top-k.

    customer is broadcast (dim ≪ fact); orders⋈lineitem shuffles on orderkey.
    Top-k goes through TakeOrderedAndProject — no global sort materialized.
    """
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    cust = t.customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ord_ = t.orders.filter(F.col("o_orderdate") < cutoff)
    li = t.lineitem.filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(ord_, li.l_orderkey == ord_.o_orderkey)
        .join(F.broadcast(cust), ord_.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(F.expr(DISC_PRICE)).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, CAST(SUM({DISC_PRICE}) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    tags=("relational", "join", "bench"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style six-way join; all dims broadcast, facts shuffle once."""
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region"
    )
    nr = (
        t.nation.join(
            F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
            t.nation.n_regionkey == t.region.r_regionkey,
        ).select("n_nationkey", "n_name")
    )
    supp = t.supplier.join(F.broadcast(nr), F.col("s_nationkey") == nr.n_nationkey).select(
        "s_suppkey", "s_nationkey", "n_name"
    )
    ord_ = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    return (
        t.lineitem.join(ord_, F.col("l_orderkey") == ord_.o_orderkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(F.expr(DISC_PRICE)).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT CAST(SUM({PRICE} * {DISC}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    tags=("relational", "scan", "pushdown", "bench"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style pure scan-filter-agg: every predicate reaches the
    parquet scan (PushedFilters), projection prunes to 3 columns."""
    t = load_tables(spark, sf_dir, "lineitem")
    return (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        ).agg(
            F.sum(F.expr(f"{PRICE} * {DISC}")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(SUM({DISC_PRICE}) AS DOUBLE) AS revenue,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS c_acctbal,
           n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("relational", "join", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item report; broadcast customer+nation."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    ord_ = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = t.lineitem.filter(F.col("l_returnflag") == "R")
    cust = t.customer.join(
        F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    return (
        li.join(ord_, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(F.expr(DISC_PRICE)).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE)").alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q18_large_orders",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
           CAST(SUM({QTY}) AS DOUBLE) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING SUM({QTY}) > 150
          )
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    tags=("relational", "join", "semijoin", "topk", "bench"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: aggregate-driven semi-join (large orders).

    The per-orderkey quantity sum that drives the HAVING filter IS the
    queried sum, so it is computed once and joined through — one lineitem
    scan and one shuffle instead of the literal scan-twice formulation the
    SQL implies (the final re-aggregation the oracle writes is a no-op over
    the already-unique orderkey group)."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        t.lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.expr(QTY)).alias("sq"))
        .filter(F.col("sq") > 150)
    )
    return (
        big.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(t.customer.select("c_custkey", "c_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .withColumn("sum_qty", F.col("sq").cast("double"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)").alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("relational", "join", "semijoin"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: correlated EXISTS → left-semi join on (key, date)."""
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    ord_ = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    li = t.lineitem.select("l_orderkey", "l_shipdate")
    return (
        ord_.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(YEAR(l_shipdate) AS INT) AS l_year,
             {DISC_PRICE} AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND n1.n_name < n2.n_name
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("relational", "join"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style nation-pair trade volume (self-joined dim)."""
    t = load_tables(spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation")
    n1 = t.nation.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    n2 = t.nation.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation"))
    supp = t.supplier.join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
    cust = t.customer.join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
    return (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp.select("s_suppkey", "supp_nation")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust.select("c_custkey", "cust_nation")), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(F.expr(DISC_PRICE)).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {DISC_PRICE}
                                      ELSE CAST(0 AS DECIMAL(3,2)) END) AS DOUBLE)
                / CAST(SUM({DISC_PRICE}) AS DOUBLE) AS DOUBLE) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
    tags=("relational", "join", "agg"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promo revenue share (conditional aggregation)."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    promo = F.when(F.col("p_type") == "PROMO", F.expr(DISC_PRICE)).otherwise(
        F.expr("CAST(0 AS DECIMAL(3,2))")
    )
    return (
        li.join(F.broadcast(t.part.select("p_partkey", "p_type")), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(F.expr(DISC_PRICE)).cast("double")
            ).cast("double").alias("promo_revenue")
        )
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM({DISC_PRICE}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    tags=("relational", "join", "subquery"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style: scalar-subquery max against a derived view."""
    t = load_tables(spark, sf_dir, "supplier", "lineitem")
    revenue = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(F.expr(DISC_PRICE)).cast("double").alias("total_revenue"))
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        t.supplier.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    SELECT p_partkey, p_name, s_suppkey, s_name,
           CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS s_acctbal
    FROM part, supplier,
         (SELECT l_partkey AS mk, MIN(l_suppkey) AS min_supp
          FROM lineitem GROUP BY l_partkey) m
    WHERE p_partkey = mk AND s_suppkey = min_supp AND p_size < 10
    ORDER BY p_partkey
    """,
    tags=("relational", "join", "subquery"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped min-per-group correlated lookup (adapted: the schema
    has no partsupp, so 'cheapest' = lowest supplier key serving the part)."""
    t = load_tables(spark, sf_dir, "part", "supplier", "lineitem")
    m = t.lineitem.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min("l_suppkey").alias("min_supp")
    )
    return (
        t.part.filter(F.col("p_size") < 10)
        .join(m, F.col("p_partkey") == F.col("mk"))
        .join(F.broadcast(t.supplier), F.col("s_suppkey") == F.col("min_supp"))
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            F.expr("CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE)").alias("s_acctbal"),
        )
        .orderBy("p_partkey")
    )


BAL = "CAST(c_acctbal AS DECIMAL(12,2))"


RETAIL = "CAST(p_retailprice AS DECIMAL(12,2))"


LQTY = "CAST(l_quantity AS DECIMAL(12,2))"


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("relational", "join", "outer", "agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style: order-count distribution via outer join + two-level
    aggregation. Scale: both aggs shuffle on keys that are near-uniform
    (custkey, then small-domain c_count); no broadcast needed — orders is the
    fact side and stays partitioned."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    ord_ = t.orders.filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        t.customer.join(ord_, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q19_disjunctive_predicate",
    oracle=f"""
    SELECT CAST(SUM({DISC_PRICE}) AS DOUBLE) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND (
      (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        AND l_quantity >= 1 AND l_quantity <= 11)
      OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        AND l_quantity >= 10 AND l_quantity <= 20)
      OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
        AND l_quantity >= 20 AND l_quantity <= 30))
    """,
    tags=("relational", "join", "predicate"),
)
def q19_disjunctive_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style disjunctive bracket predicate. The l_quantity
    disjunction's hull (1..30) is pushable below the join; Catalyst derives
    it via constraint propagation, and part stays broadcast."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        t.lineitem.join(
            F.broadcast(t.part.select("p_partkey", "p_brand", "p_size")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .filter(cond)
        .agg(F.sum(F.expr(DISC_PRICE)).cast("double").alias("revenue"))
    )


@query(
    "q22_waiting_customers",
    oracle=f"""
    SELECT cntrycode, COUNT(*) AS numcust, CAST(SUM(bal) AS DOUBLE) AS totacctbal
    FROM (
      SELECT c_nationkey % 10 AS cntrycode, {BAL} AS bal
      FROM customer
      WHERE {BAL} > (
        SELECT CAST(SUM({BAL}) AS DOUBLE) / COUNT(*) FROM customer
        WHERE c_acctbal > 0)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    ) waiting
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    tags=("relational", "join", "antijoin", "subquery"),
)
def q22_waiting_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: above-average balance + no urgent orders (scalar
    subquery + anti join). The average is an exact decimal sum / count in double — the
    identical expression on both engines. Scale: the scalar aggregate is a
    broadcast of one row; the anti join shuffles on custkey."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    bal = F.expr(BAL)
    avg_row = t.customer.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(bal).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        t.customer.join(F.broadcast(avg_row))
        .filter(bal > F.col("avg_bal"))
        .join(
            t.orders.filter(F.col("o_orderpriority") == "1-URGENT"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .select((F.col("c_nationkey") % 10).alias("cntrycode"), bal.alias("bal"))
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal").cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN nation = 'NATION_7' THEN volume
                              ELSE CAST(0 AS DECIMAL(3,2)) END) AS DOUBLE)
                / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
             {DISC_PRICE} AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        AND p_type = 'STANDARD'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    tags=("relational", "join", "agg"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style market share: NATION_7 suppliers' slice of STANDARD-part
    revenue sold to ASIA customers, per year. Scale: lineitem⋈orders is the
    only big shuffle; part/supplier/customer(+nation/region) reduce to
    broadcast dimension maps."""
    t = load_tables(
        spark, sf_dir, "part", "supplier", "lineitem", "orders", "customer", "nation", "region"
    )
    asia_nations = (
        t.nation.join(
            F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey")
    )
    cust = t.customer.join(
        F.broadcast(asia_nations), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey")
    supp = t.supplier.join(
        F.broadcast(t.nation.select("n_nationkey", F.col("n_name").alias("nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "nation")
    std_parts = t.part.filter(F.col("p_type") == "STANDARD").select("p_partkey")
    vol = F.expr(DISC_PRICE)
    nation7 = F.when(F.col("nation") == "NATION_7", vol).otherwise(
        F.expr("CAST(0 AS DECIMAL(3,2))")
    )
    return (
        t.lineitem.join(F.broadcast(std_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(nation7).cast("double") / F.sum(vol).cast("double"))
            .cast("double")
            .alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(YEAR(o_orderdate) AS INT) AS o_year,
             {DISC_PRICE} - {RETAIL} * {LQTY} * CAST(0.1 AS DECIMAL(3,2)) AS amount
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%a%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    tags=("relational", "join", "agg"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style profit by (supplier nation, year). The schema has no
    partsupp, so supply cost is proxied as 10% of retail price x quantity —
    still exercising the 5-way join + decimal arithmetic. Scale: same posture
    as q8 (one fact shuffle, broadcast dims)."""
    t = load_tables(spark, sf_dir, "part", "supplier", "lineitem", "orders", "nation")
    parts = t.part.filter(F.col("p_name").like("%a%")).select("p_partkey", "p_retailprice")
    supp = t.supplier.join(
        F.broadcast(t.nation.select("n_nationkey", F.col("n_name").alias("nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "nation")
    amount = F.expr(f"{DISC_PRICE} - {RETAIL} * {LQTY} * CAST(0.1 AS DECIMAL(3,2))")
    return (
        t.lineitem.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(t.orders.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


@query(
    "q12_shipmode_priority",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_returnflag IN ('R', 'A')
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("relational", "join", "agg"),
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape adapted to the driver schema (no l_shipmode /
    l_commitdate / l_receiptdate columns): ``l_returnflag`` stands in for the
    ship-mode IN-list and ``l_shipdate > o_orderdate + 60 days`` for the
    late-delivery cross-table predicate. Keeps Q12's distinctive pieces —
    fact-fact equi-join, IN filter, date arithmetic across both tables,
    conditional (CASE) counts.

    Scale: both sides are fact tables, so this is the canonical shuffled
    join; the selective shipdate-year + returnflag filter is pushed to the
    lineitem parquet scan before the exchange, and AQE picks merge vs
    shuffled-hash (and splits skewed orderkeys) at runtime.
    """
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    li = t.lineitem.filter(
        F.col("l_returnflag").isin("R", "A")
        & (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag", "l_shipdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            t.orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    SELECT CAST(CAST(SUM({PRICE}) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#23'
      AND l_quantity < (
        SELECT 0.2 * (CAST(SUM({QTY}) AS DOUBLE) / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
    tags=("relational", "join", "subquery"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style: rows below 20% of their part's average quantity —
    correlated scalar subquery → per-part aggregate joined back. Scale: the
    per-part averages shuffle once on partkey and broadcast back against the
    brand-filtered probe."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    per_part = t.lineitem.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * (F.sum(F.expr(QTY)).cast("double") / F.count(F.lit(1)))).alias("qty_cap")
    )
    brand = t.part.filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    return (
        t.lineitem.join(F.broadcast(brand), F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg((F.sum(F.expr(PRICE)).cast("double") / F.lit(7.0)).cast("double").alias("avg_yearly"))
    )


@query(
    "q20_potential_promotion_suppliers",
    oracle=f"""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'r%')
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING CAST(SUM({QTY}) AS DOUBLE) > 285.0)
    ORDER BY s_suppkey
    """,
    tags=("relational", "join", "subquery", "semijoin"),
)
def q20_potential_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style nested IN chain: suppliers who shipped >285 units of
    r-named parts in 1997 — two stacked semi-joins with a HAVING between.
    Scale: part-filter broadcast into lineitem, one suppkey shuffle for the
    HAVING aggregate, then a broadcast semi against supplier."""
    t = load_tables(spark, sf_dir, "supplier", "lineitem", "part")
    p_parts = t.part.filter(F.col("p_name").like("r%")).select("p_partkey")
    qualified = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(p_parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.expr(QTY)).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 285.0)
        .select("l_suppkey")
    )
    return (
        t.supplier.join(
            F.broadcast(qualified), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "q21_waiting_multi_supplier",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
    tags=("relational", "join", "semijoin", "antijoin"),
)
def q21_waiting_multi_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style (adapted: lateness = shipped >60 days after the order
    date, standing in for receipt-vs-commit dates the schema lacks): the sole
    late supplier on multi-supplier finalized orders — EXISTS plus correlated
    NOT EXISTS over the same fact table. Spark shapes them as per-orderkey
    aggregates joined back (one shuffle each) rather than nested-loop
    subqueries."""
    t = load_tables(spark, sf_dir, "supplier", "lineitem", "orders")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    li = (
        t.lineitem.join(
            t.orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey", late.alias("is_late"))
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    waiting = (
        li.filter(F.col("is_late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    return (
        waiting.join(
            F.broadcast(t.supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
    )


@query(
    "q11_important_stock",
    oracle=f"""
    SELECT l_partkey, CAST(SUM({PRICE}) AS DOUBLE) AS part_value
    FROM lineitem
    GROUP BY l_partkey
    HAVING CAST(SUM({PRICE}) AS DOUBLE) > (
      SELECT CAST(SUM({PRICE}) AS DOUBLE) / COUNT(DISTINCT l_partkey)
      FROM lineitem)
    ORDER BY part_value DESC, l_partkey
    """,
    tags=("relational", "agg", "subquery"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style: parts whose aggregate value exceeds the
    per-part average (scale-stable threshold) — grouped HAVING against a scalar-subquery aggregate. The
    schema has no partsupp, so value = lineitem extended price per part.
    Scale: the global total is one broadcast row; the per-part agg is the
    only keyed shuffle."""
    t = load_tables(spark, sf_dir, "lineitem")
    price = F.expr(PRICE)
    total = t.lineitem.agg(
        (F.sum(price).cast("double") / F.countDistinct("l_partkey")).alias("threshold")
    )
    return (
        t.lineitem.groupBy("l_partkey")
        .agg(F.sum(price).cast("double").alias("part_value"))
        .join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part, lineitem
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#45'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_name LIKE '%7%')
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("relational", "join", "antijoin", "distinct"),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style: distinct supplier counts per (brand, type, size)
    bracket, excluding a supplier denylist — NOT-IN rewritten as an anti join
    (the denylist has no NULLs, so the semantics coincide). Scale: denylist
    and part dimension both broadcast; one distinct-agg shuffle."""
    t = load_tables(spark, sf_dir, "part", "lineitem", "supplier")
    parts = t.part.filter(
        (F.col("p_brand") != "Brand#45")
        & ~F.col("p_type").like("MEDIUM%")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    deny = t.supplier.filter(F.col("s_name").like("%7%")).select("s_suppkey")
    return (
        t.lineitem.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(deny), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )
