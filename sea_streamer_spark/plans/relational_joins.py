"""Join and set-operation queries: broadcast, outer, semi/anti, IN-subquery,
inline VALUES, multiset set ops, salted skew joins, Bloom prefilters and
point-in-time joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_tables
from .registry import query
from .tpch import PRICE


@query(
    "join_broadcast_part_brand",
    oracle=f"""
    SELECT p_brand, COUNT(*) AS n_items,
           CAST(SUM({PRICE}) AS DOUBLE) AS brand_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey AND p_type = 'PROMO'
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    tags=("relational", "join", "broadcast"),
)
def join_broadcast_part_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join of the part dim into the fact — the plan
    must contain BroadcastHashJoin (no fact shuffle)."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    part = t.part.filter(F.col("p_type") == "PROMO").select("p_partkey", "p_brand")
    return (
        t.lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.expr(PRICE)).cast("double").alias("brand_revenue"),
        )
        .orderBy("p_brand")
    )


@query(
    "join_left_outer_order_counts",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    tags=("relational", "join", "outer"),
)
def join_left_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (count = 0)."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count(F.col("o_orderkey")).alias("n_orders"))
    )


@query(
    "join_semi_customers_with_f_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
    tags=("relational", "join", "semijoin"),
)
def join_semi_customers_with_f_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): no row multiplication, no payload columns
    shuffled from the probe side."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    f_orders = t.orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return t.customer.join(
        f_orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_totalprice > 300000)
    """,
    tags=("relational", "join", "antijoin"),
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no big-ticket orders —
    the filtered probe keeps the result non-trivial at every SF."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    return t.customer.join(
        t.orders.filter(F.col("o_totalprice") > 300000).select("o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    ).select("c_custkey", "c_name")


@query(
    "set_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
    tags=("relational", "setop"),
)
def set_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of customer and supplier nations."""
    t = load_tables(spark, sf_dir, "customer", "supplier")
    return t.customer.select(F.col("c_nationkey").alias("nationkey")).intersect(
        t.supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


@query(
    "set_except_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_nationkey % 3 = 0
    """,
    tags=("relational", "setop"),
)
def set_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customer nations minus a supplier-nation subset (the filter
    keeps the difference non-empty at every SF)."""
    t = load_tables(spark, sf_dir, "customer", "supplier")
    return t.customer.select(F.col("c_nationkey").alias("nationkey")).subtract(
        t.supplier.filter(F.col("s_nationkey") % 3 == 0).select(
            F.col("s_nationkey").alias("nationkey")
        )
    )


@query(
    "set_union_distinct_keys",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
    tags=("relational", "setop"),
)
def set_union_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of nation keys from two tables."""
    t = load_tables(spark, sf_dir, "customer", "supplier")
    return (
        t.customer.select(F.col("c_nationkey").alias("nationkey"))
        .union(t.supplier.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


@query(
    "in_subquery_segment",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    ORDER BY o_orderkey LIMIT 100
    """,
    tags=("relational", "join", "subquery"),
)
def in_subquery_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery → broadcast left-semi join; top-k per-partition then
    merged on the driver (TakeOrderedAndProject — no global sort)."""
    t = load_tables(spark, sf_dir, "orders", "customer")
    building = t.customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        t.orders.join(
            F.broadcast(building), F.col("o_custkey") == F.col("c_custkey"), "left_semi"
        )
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
        .limit(100)
    )


@query(
    "values_inline_dim_join",
    oracle="""
    SELECT r.r_regionkey, r.r_name, m.code
    FROM region r
    JOIN (VALUES ('ASIA', 'AS'), ('EUROPE', 'EU'), ('AFRICA', 'AF'),
                 ('AMERICA', 'AM'), ('MIDDLE EAST', 'ME')) AS m(name, code)
      ON r.r_name = m.name
    ORDER BY r.r_regionkey
    """,
    tags=("relational", "join", "values"),
)
def values_inline_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES (LocalRelation) dimension joined broadcast-style —
    the lookup-table enrichment pattern; never shuffles the fact side."""
    t = load_tables(spark, sf_dir, "region")
    codes = spark.createDataFrame(
        [("ASIA", "AS"), ("EUROPE", "EU"), ("AFRICA", "AF"),
         ("AMERICA", "AM"), ("MIDDLE EAST", "ME")],
        ["name", "code"],
    )
    return (
        t.region.join(F.broadcast(codes), F.col("r_name") == F.col("name"))
        .select("r_regionkey", "r_name", "code")
        .orderBy("r_regionkey")
    )


@query(
    "set_except_all_multiset",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey FROM supplier
    """,
    tags=("relational", "setop"),
)
def set_except_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference (duplicates preserved by count),
    unlike the distinct EXCEPT in pack 1."""
    t = load_tables(spark, sf_dir, "customer", "supplier")
    return t.customer.select(F.col("c_nationkey").alias("nationkey")).exceptAll(
        t.supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


@query(
    "set_intersect_all_multiset",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey FROM supplier
    """,
    tags=("relational", "setop"),
)
def set_intersect_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset intersection (min of per-side counts)."""
    t = load_tables(spark, sf_dir, "customer", "supplier")
    return t.customer.select(F.col("c_nationkey").alias("nationkey")).intersectAll(
        t.supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY n.n_name""",
    tags=("relational", "scale"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation supplier revenue through the EXPLICIT skew machinery
    (operators/scale.py): `salted_join` fans each l_suppkey across 8
    sub-keys (supplier side replicated x8, still broadcast-small) and the
    nation rollup runs as a two-stage (key, salt) -> key aggregation —
    no reducer ever owns a hot key's full row set, even with AQE off
    (streaming micro-batches) or a pinned plan. Result is row-identical
    to the plain join+agg, which is exactly what the oracle asserts;
    DECIMAL partials keep the two-stage sum order-independent."""
    from ..operators.scale import salted_join

    t = load_tables(spark, sf_dir, "lineitem", "supplier", "nation")
    li = t.lineitem.select(
        F.col("l_suppkey").alias("suppkey"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(3,2)"))
        ).alias("rev"),
        "l_orderkey",
        "l_linenumber",
    )
    sup = t.supplier.select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    joined = salted_join(
        li,
        sup,
        ["suppkey"],
        n_salts=8,
        entropy=F.xxhash64("l_orderkey", "l_linenumber"),
    )
    # two-stage skew-safe rollup: (nation, salt-of-row) partials -> nation
    partial = (
        joined.withColumn(
            "_salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(32))
        )
        .groupBy("s_nationkey", "_salt")
        .agg(F.sum("rev").alias("_rev"), F.count(F.lit(1)).alias("_cnt"))
    )
    per_nation = partial.groupBy("s_nationkey").agg(
        F.sum("_rev").alias("_revtot"), F.sum("_cnt").cast("long").alias("n_lineitems")
    )
    nation = t.nation.select("n_nationkey", "n_name")
    return (
        per_nation.join(
            F.broadcast(nation),
            per_nation["s_nationkey"] == nation["n_nationkey"],
        )
        .select(
            "n_name",
            F.col("_revtot").cast("double").alias("revenue"),
            "n_lineitems",
        )
    )


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 9000
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""",
    tags=("relational", "scale"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered join — the explicit form of Spark's runtime
    bloom filter / Iceberg's bloom pushdown: the selective dimension
    subset (BUILDING customers with high balance) builds a packed-word
    Bloom filter (operators/bloom.py — driver state = m_bits/64 longs at
    ANY table size), the FACT side drops provably-non-matching rows
    MAP-SIDE before its shuffle (whole-stage-codegen bit tests, no join),
    and only the surviving sliver pays the real join — which also removes
    the filter's false positives, so the result is exactly the plain
    join's (what the oracle asserts). At 100 TB this is the difference
    between shuffling the whole fact table and shuffling the matching
    fraction."""
    from ..operators.bloom import bloom_build, bloom_might_contain

    t = load_tables(spark, sf_dir, "orders", "customer")
    dim = t.customer.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 9000)
    ).select("c_custkey")
    model = bloom_build(dim, "c_custkey", m_bits=1 << 14)
    # probe column must carry the SAME TYPE as the build column — the
    # xxhash64 probes are type-sensitive (long 5 != string '5')
    fact = t.orders.filter(bloom_might_contain(model, F.col("o_custkey")))
    joined = fact.join(
        F.broadcast(dim), fact["o_custkey"] == dim["c_custkey"], "left_semi"
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("double")
        .alias("total_price"),
    )


@query(
    "join_point_in_time",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, v,
             CASE v WHEN 1 THEN DATE '1990-01-01'
                    WHEN 2 THEN DATE '1997-01-01' + CAST(c_custkey % 365 AS INTEGER)
                    ELSE DATE '1999-01-01' + CAST((c_custkey * 7) % 365 AS INTEGER)
             END AS valid_from,
             CASE v WHEN 1 THEN DATE '1997-01-01' + CAST(c_custkey % 365 AS INTEGER)
                    WHEN 2 THEN DATE '1999-01-01' + CAST((c_custkey * 7) % 365 AS INTEGER)
                    ELSE DATE '2005-01-01'
             END AS valid_to
      FROM customer, unnest([1, 2, 3]) AS t(v)
    )
    SELECT d.v AS version,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             AS total_price
    FROM orders o
    JOIN dim d ON o.o_custkey = d.c_custkey
      AND CAST(o.o_orderdate AS DATE) >= d.valid_from
      AND CAST(o.o_orderdate AS DATE) < d.valid_to
    GROUP BY d.v ORDER BY version""",
    tags=("relational", "temporal"),
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (SCD2) enrichment — the feature-store join that
    prevents temporal leakage in training data: every order joins the
    dimension VERSION that was valid at its order date, never a later
    one. The versioned dimension is synthesized deterministically from
    customer (3 validity windows with per-customer boundaries); the join
    is custkey-equi + validity-range filter, so per-key fan-out is
    bounded by the version count (never a range-only nested loop), and
    exactly one version matches each order by construction — an
    every-order-joins-once invariant the totals expose."""
    t = load_tables(spark, sf_dir, "orders", "customer")
    v = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("v")
    b1 = F.expr("date_add(DATE'1997-01-01', CAST(c_custkey % 365 AS INT))")
    b2 = F.expr("date_add(DATE'1999-01-01', CAST((c_custkey * 7) % 365 AS INT))")
    dim = t.customer.select("c_custkey", v).select(
        "c_custkey",
        "v",
        F.when(F.col("v") == 1, F.lit("1990-01-01").cast("date"))
        .when(F.col("v") == 2, b1)
        .otherwise(b2)
        .alias("valid_from"),
        F.when(F.col("v") == 1, b1)
        .when(F.col("v") == 2, b2)
        .otherwise(F.lit("2005-01-01").cast("date"))
        .alias("valid_to"),
    )
    od = F.col("o_orderdate").cast("date")
    joined = t.orders.join(
        dim,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (od >= F.col("valid_from"))
        & (od < F.col("valid_to")),
    )
    return (
        joined.groupBy(F.col("v").alias("version"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("version")
    )


# Multiset symmetric difference — completes the set-op family (distinct
# INTERSECT/EXCEPT/UNION + multiset INTERSECT ALL/EXCEPT ALL already
# registered): rows whose per-value multiplicities differ between the
# customer and supplier nation multisets, duplicates preserved —
# (A ∖ B) ⊎ (B ∖ A) under bag semantics.
@query(
    "set_symmetric_diff_multiset",
    oracle="""
    SELECT nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT ALL
      SELECT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT nationkey FROM (
      SELECT s_nationkey AS nationkey FROM supplier
      EXCEPT ALL
      SELECT c_nationkey FROM customer
    )
    ORDER BY nationkey
    """,
    tags=("relational", "setop"),
)
def set_symmetric_diff_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics symmetric difference of the customer/supplier
    nation multisets: |count_A(v) − count_B(v)| copies of each value —
    exceptAll both ways, unioned. Catalyst rewrites each exceptAll to
    one count-aggregate + generator (no pairwise anything)."""
    t = load_tables(spark, sf_dir, "customer", "supplier")
    c = t.customer.select(F.col("c_nationkey").alias("nationkey"))
    s = t.supplier.select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s).unionAll(s.exceptAll(c)).orderBy("nationkey")
