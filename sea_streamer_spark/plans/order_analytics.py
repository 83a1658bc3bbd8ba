"""Order and customer analytics over TPC-H: Pareto/ABC concentration,
seasonality, latency histograms, LTV and retention triangles, survival,
CUSUM and Holt forecasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .registry import query


REV_CENTS_SQL = "SUM(CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS cents"


def duck_nation_customer_rev(value: str) -> str:
    """Oracle ``rev(nation, custkey, ...)`` CTE: one row per customer
    (keyed by nation name) carrying the aggregate ``value``."""
    return f"""rev AS (
      SELECT n.n_name AS nation, c.c_custkey AS custkey,
             {value}
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    )"""


def nation_customer_rev(t, value, alias: str) -> DataFrame:
    """(nation, c_custkey, ``alias``): per-customer sum of the order-level
    ``value`` column, keyed by nation name — the input of the per-nation
    concentration queries."""
    return (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), F.col("c_custkey"))
        .agg(F.sum(value).alias(alias))
    )


@query(
    "orders_pareto_concentration",
    oracle=f"""
    WITH {duck_nation_customer_rev(REV_CENTS_SQL)}, ranked AS (
      SELECT nation, cents,
             SUM(cents) OVER (PARTITION BY nation
                              ORDER BY cents DESC, custkey
                              ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cents) OVER (PARTITION BY nation) AS tot,
             ROW_NUMBER() OVER (PARTITION BY nation
                                ORDER BY cents DESC, custkey) AS rnk
      FROM rev
    )
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN(CASE WHEN cum * 2 >= tot THEN rnk END) AS BIGINT)
             AS n_top_half,
           CAST(FLOOR(1000.0 * MIN(CASE WHEN cum * 2 >= tot THEN rnk END)
                      / COUNT(*)) AS BIGINT) AS top_permille
    FROM ranked GROUP BY nation ORDER BY nation
    """,
    tags=("relational", "profile"),
)
def orders_pareto_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Revenue concentration (the Pareto / "how few customers are half the
    business" cut) per nation: rank customers by lifetime order value and
    report how many it takes to reach 50 % of the nation's revenue. The
    crossing test is ``2·cum ≥ total`` — pure integers (DECIMAL-derived
    cents), so the cut index is engine-exact with no 0.5 float threshold.

    Plan: one (nation, customer)-keyed agg, then ONE nation-keyed window
    shuffle carrying the running sum, the nation total, and the rank
    together, then a ≤ |nations|-row agg. Window populations are per-
    nation customer counts — the segmentation key is the skew control (a
    global Pareto would need the total-order window this formulation
    avoids)."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    cents = (
        F.col("o_totalprice").cast("decimal(14,2)") * 100
    ).cast("long")
    rev = nation_customer_rev(t, cents, "cents")
    part = W.partitionBy("nation")
    order = part.orderBy(F.desc("cents"), F.asc("c_custkey"))
    ranked = rev.select(
        "nation",
        F.sum("cents").over(
            order.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("cum"),
        F.sum("cents").over(part).alias("tot"),
        F.row_number().over(order).alias("rnk"),
    )
    crossing = F.min(
        F.when(F.col("cum") * 2 >= F.col("tot"), F.col("rnk"))
    )
    return (
        ranked.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            crossing.cast("long").alias("n_top_half"),
            F.floor(1000.0 * crossing / F.count(F.lit(1)))
            .cast("long")
            .alias("top_permille"),
        )
        .orderBy("nation")
    )


@query(
    "orders_seasonality_index",
    oracle="""
    WITH m AS (
      SELECT CAST(month(o_orderdate) AS BIGINT) AS month,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ), t AS (SELECT SUM(n_orders) AS tot, COUNT(*) AS n_months FROM m)
    SELECT month, n_orders,
           CAST(FLOOR(1000.0 * n_orders * n_months / tot) AS BIGINT)
             AS seasonality_permille
    FROM m, t ORDER BY month
    """,
    tags=("relational", "profile"),
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month seasonality index of order volume: each month's
    share of orders relative to a perfectly flat year (1000 = average
    month; 1200 = a 20 % hot month) — the demand-planning read, pooled
    across the table's multi-year span so single-year noise averages out.

    Plan: one month-keyed agg (12 groups), the totals as a 1-row
    broadcast. Nothing scales past the first partial agg."""
    t = load_tables(spark, sf_dir, "orders")
    m = t.orders.groupBy(
        F.month("o_orderdate").cast("long").alias("month")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    tot = m.agg(
        F.sum("n_orders").alias("tot"), F.count(F.lit(1)).alias("n_months")
    )
    return (
        m.crossJoin(F.broadcast(tot))
        .select(
            "month", "n_orders",
            F.floor(
                1000.0 * F.col("n_orders") * F.col("n_months") / F.col("tot")
            ).cast("long").alias("seasonality_permille"),
        )
        .orderBy("month")
    )


@query(
    "orders_ship_latency_histogram",
    oracle="""
    WITH lat AS (
      SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), banded AS (
      SELECT CASE WHEN days <= 7 THEN '0-7'
                  WHEN days <= 30 THEN '08-30'
                  WHEN days <= 90 THEN '31-90'
                  ELSE '91+' END AS band,
             days
      FROM lat
    ), g AS (
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(MIN(days) AS BIGINT) AS min_days,
             CAST(MAX(days) AS BIGINT) AS max_days
      FROM banded GROUP BY band
    )
    SELECT band, n_items, min_days, max_days,
           CAST(FLOOR(1000.0 * n_items / SUM(n_items) OVER ()) AS BIGINT)
             AS share_permille
    FROM g ORDER BY band
    """,
    tags=("relational", "window"),
)
def orders_ship_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution in operational bands — the
    fulfillment-SLA histogram. One orderkey-keyed shuffle join (lineitem ×
    orders, both sides pruned to two columns), a pure-projection banding,
    a 4-row aggregate, and the share window over those 4 rows. The only
    data-sized operation is the join, keyed on the natural key."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "lineitem", "orders")
    lat = t.lineitem.select("l_orderkey", "l_shipdate").join(
        t.orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("days")
    )
    banded = lat.select(
        F.when(F.col("days") <= 7, "0-7")
        .when(F.col("days") <= 30, "08-30")
        .when(F.col("days") <= 90, "31-90")
        .otherwise("91+")
        .alias("band"),
        "days",
    )
    g = banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.min("days").cast("long").alias("min_days"),
        F.max("days").cast("long").alias("max_days"),
    )
    return g.select(
        "band",
        "n_items",
        "min_days",
        "max_days",
        F.floor(
            F.lit(1000.0) * F.col("n_items") / F.sum("n_items").over(W.partitionBy())
        )
        .cast("long")
        .alias("share_permille"),
    ).orderBy("band")


@query(
    "customer_spend_quartiles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS spend_cents
      FROM orders GROUP BY o_custkey
    ), q AS (
      SELECT o_custkey, spend_cents,
             NTILE(4) OVER (ORDER BY spend_cents DESC, o_custkey) AS quartile
      FROM spend
    )
    SELECT CAST(quartile AS BIGINT) AS quartile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(spend_cents) AS BIGINT) AS total_cents,
           CAST(MIN(spend_cents) AS BIGINT) AS min_cents,
           CAST(MAX(spend_cents) AS BIGINT) AS max_cents
    FROM q GROUP BY quartile ORDER BY quartile
    """,
    tags=("relational", "window"),
)
def customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value quartiles (the CLV segmentation cut): per-customer
    order spend in integer cents, NTILE(4) over (spend DESC, custkey) —
    fully deterministic tie-break — then per-quartile counts and bounds.
    The NTILE window totally orders the CUSTOMER dimension (the same
    dimension-sized bound the Pareto/Gini/rank-normalize family
    documents); order facts never enter the window, only the one
    custkey-keyed partial-aggregable sum."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    spend = t.orders.groupBy("o_custkey").agg(
        F.sum(cents).cast("long").alias("spend_cents")
    )
    q = spend.select(
        "spend_cents",
        F.ntile(4)
        .over(W.orderBy(F.col("spend_cents").desc(), F.col("o_custkey")))
        .alias("quartile"),
    )
    return (
        q.groupBy("quartile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("spend_cents").cast("long").alias("total_cents"),
            F.min("spend_cents").cast("long").alias("min_cents"),
            F.max("spend_cents").cast("long").alias("max_cents"),
        )
        .select(
            F.col("quartile").cast("long").alias("quartile"),
            "n_customers",
            "total_cents",
            "min_cents",
            "max_cents",
        )
        .orderBy("quartile")
    )


@query(
    "part_brand_price_index",
    oracle="""
    WITH cents AS (
      SELECT p_brand,
             CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS c
      FROM part
    ), b AS (
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(SUM(c) AS BIGINT) AS sum_cents
      FROM cents GROUP BY p_brand
    ), tot AS (
      SELECT SUM(sum_cents) AS ts, SUM(n_parts) AS tn FROM b
    )
    SELECT b.p_brand AS brand, b.n_parts,
           CAST(FLOOR(b.sum_cents * 1.0 / b.n_parts) AS BIGINT) AS avg_cents,
           CAST(FLOOR(1000.0 * b.sum_cents * tot.tn / (b.n_parts * tot.ts))
                AS BIGINT) AS index_permille
    FROM b, tot ORDER BY brand
    """,
    tags=("relational",),
)
def part_brand_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand price index: each brand's average retail price relative to
    the catalog average (1000 = at parity) — the assortment-pricing
    report. Integer cents; the index is a single division of integer
    cross-products so both engines floor the same rational.

    Plan: one brand-keyed partial-agg count/sum, a 1-row total derived
    from the brand relation (never a second scan), broadcast back. The
    only data-sized pass is the scan."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "part")
    cents = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long")
    b = t.part.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(cents).cast("long").alias("sum_cents"),
    )
    w = W.partitionBy()
    return b.select(
        F.col("p_brand").alias("brand"),
        "n_parts",
        F.floor(F.col("sum_cents") * F.lit(1.0) / F.col("n_parts"))
        .cast("long")
        .alias("avg_cents"),
        F.floor(
            F.lit(1000.0)
            * F.col("sum_cents")
            * F.sum("n_parts").over(w)
            / (F.col("n_parts") * F.sum("sum_cents").over(w))
        )
        .cast("long")
        .alias("index_permille"),
    ).orderBy("brand")


# ABC analysis (the Pareto/80-95 inventory classification every revenue
# dashboard ships): parts ranked by lineitem revenue; class A while the
# running share is <= 80% of total, B to 95%, C after. Exact integer
# cents end-to-end (class boundaries tested as 20·cum <= 16·tot and
# 20·cum <= 19·tot — no percentage floats; per-row explicit ROUND before
# the BIGINT cast, the rollup-restatement recipe), deterministic
# (revenue DESC, partkey) rank order.
@query(
    "orders_abc_analysis",
    oracle="""
    WITH rev AS (
      SELECT l_partkey AS partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100,
                                 0) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ),
    ranked AS (
      SELECT partkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, partkey
                              ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cents) OVER () AS tot
      FROM rev
    ),
    classed AS (
      SELECT CASE WHEN 20 * cum <= 16 * tot THEN 'A'
                  WHEN 20 * cum <= 19 * tot THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents
      FROM ranked
    )
    SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           CAST(1000 * SUM(cents) // (SELECT SUM(cents) FROM rev) AS BIGINT)
             AS revenue_share_permille
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
    tags=("relational", "agg"),
)
def orders_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC revenue classification of parts (A: first 80% of revenue in
    rank order, B: to 95%, C: the tail): per class, part count, exact
    revenue cents and share. One part-keyed aggregate, one running-sum
    window over the part dimension, integer class boundaries."""
    li = load_tables(spark, sf_dir, "lineitem").lineitem
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(
            F.expr(
                "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)"
                " AS BIGINT)"
            )
        )
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy(F.desc("cents"), "partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = rev.select(
        "cents",
        F.sum("cents").over(w).alias("cum"),
        F.sum("cents").over(Window.partitionBy()).alias("tot"),
    )
    classed = ranked.select(
        F.when(20 * F.col("cum") <= 16 * F.col("tot"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("tot"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
        "tot",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            idiv_col(F.lit(1000) * F.sum("cents"), F.max("tot")).alias(
                "revenue_share_permille"
            ),
        )
        .orderBy("abc_class")
    )


# Cohort LTV triangle (the classic cohort lifetime-value layout every
# analytics stack reports; see e.g. Fader & Hardie's CLV literature for
# the framing): customers cohorted by FIRST-order year, revenue rolled
# up by cohort × order-age-in-years, with the running cumulative LTV
# and its per-customer rate. Money is exact integer CENTS (the
# orders-family convention: round once per row, then integer sums);
# the cumulative ride is one cohort-keyed window over the bounded
# (cohort × age) triangle.


#: Customer acquisition cohorts: ``firsts(o_custkey, cohort_year)`` (year
#: of the first order) and ``sized(cohort_year, n_customers)``.
DUCK_ORDER_COHORTS = """firsts AS (
      SELECT o_custkey,
             CAST(MIN(date_part('year', o_orderdate)) AS BIGINT)
               AS cohort_year
      FROM orders GROUP BY o_custkey
    ),
    sized AS (
      SELECT cohort_year, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM firsts GROUP BY cohort_year
    )"""


@query(
    "orders_ltv_triangle",
    oracle=f"""
    WITH {DUCK_ORDER_COHORTS},
    cells AS (
      SELECT f.cohort_year,
             CAST(date_part('year', o.o_orderdate) AS BIGINT)
               - f.cohort_year AS age_years,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS revenue_cents,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    )
    SELECT c.cohort_year, c.age_years, s.n_customers, c.n_orders,
           c.revenue_cents,
           CAST(SUM(c.revenue_cents) OVER (PARTITION BY c.cohort_year
                ORDER BY c.age_years) AS BIGINT) AS cum_revenue_cents,
           CAST(SUM(c.revenue_cents) OVER (PARTITION BY c.cohort_year
                ORDER BY c.age_years) // s.n_customers AS BIGINT)
             AS cum_ltv_per_customer_cents
    FROM cells c JOIN sized s ON s.cohort_year = c.cohort_year
    ORDER BY c.cohort_year, c.age_years
    """,
    tags=("relational", "window"),
)
def orders_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort × age LTV triangle: first-order-year cohorts, exact-cent
    revenue per age year, cohort sizes, cumulative revenue and
    per-customer cumulative LTV (integer floor). One first-order rollup
    (customer-keyed), one cohort×age rollup, one window over the
    bounded triangle — order volume never crosses a window."""
    from pyspark.sql.window import Window


    o = load_tables(spark, sf_dir, "orders").orders
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).cast("long").alias("cohort_year")
    )
    sized = firsts.groupBy("cohort_year").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    cells = (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort_year",
            (F.year("o_orderdate").cast("long") - F.col("cohort_year")).alias(
                "age_years"
            ),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    w = Window.partitionBy("cohort_year").orderBy("age_years").rangeBetween(
        Window.unboundedPreceding, 0
    )
    return (
        cells.join(sized, "cohort_year")
        .select(
            "cohort_year",
            "age_years",
            "n_customers",
            "n_orders",
            "revenue_cents",
            F.sum("revenue_cents").over(w).cast("long").alias(
                "cum_revenue_cents"
            ),
            idiv_col(
                F.sum("revenue_cents").over(w), F.col("n_customers")
            ).alias("cum_ltv_per_customer_cents"),
        )
        .orderBy("cohort_year", "age_years")
    )


# Discount-response curve + integer OLS slope (the price-response
# regression every revenue team runs; OLS per Legendre/Gauss, the Heaps
# wave's exact-integer formulation reused on a relational subject):
# lineitem discount levels are a small discrete grid — per level,
# the exact mean quantity (micro) — and the response slope is the
# integer OLS fit of mean-quantity-micro against discount-permille
# over that grid: does a deeper discount actually move volume?
@query(
    "lineitem_discount_response",
    oracle="""
    WITH lvl AS (
      SELECT CAST(ROUND(l_discount * 1000) AS BIGINT) AS disc_permille,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(CAST(ROUND(l_quantity * 1000000) AS BIGINT))
                  AS BIGINT) AS qsum_micro
      FROM lineitem GROUP BY 1
    ),
    pts AS (
      SELECT disc_permille AS x, n_items,
             CAST(qsum_micro // n_items AS BIGINT) AS y
      FROM lvl
    ),
    ols AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM pts
    )
    SELECT p.x AS disc_permille, p.n_items, p.y AS mean_qty_micro,
           CAST(CASE WHEN o.k * o.sxx - o.sx * o.sx = 0 THEN 0
                ELSE 1000 * (o.k * o.sxy - o.sx * o.sy)
                     // (o.k * o.sxx - o.sx * o.sx) END AS BIGINT)
             AS slope_milli_per_permille
    FROM pts p CROSS JOIN ols o
    ORDER BY p.x
    """,
    tags=("relational", "agg", "stats"),
)
def lineitem_discount_response(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Discount-response curve: per discount level (permille), item
    count and exact integer mean quantity (micro), plus the grid-level
    OLS slope (milli quantity-micro per discount-permille — repeated on
    every row, the grid is the dimension). One keyed rollup over
    lineitem + one ≤~11-point OLS; decimal-safe sums."""

    li = load_tables(spark, sf_dir, "lineitem").lineitem
    lvl = li.groupBy(
        F.round(F.col("l_discount") * 1000).cast("long").alias("disc_permille")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.round(F.col("l_quantity") * 1_000_000).cast("long"))
        .cast("long")
        .alias("qsum_micro"),
    )
    pts = lvl.select(
        F.col("disc_permille").alias("x"),
        "n_items",
        idiv_col(F.col("qsum_micro"), F.col("n_items")).alias("y"),
    )
    ols = pts.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        pts.crossJoin(F.broadcast(ols))
        .select(
            F.col("x").alias("disc_permille"),
            "n_items",
            F.col("y").alias("mean_qty_micro"),
            F.when(den == 0, F.lit(0))
            .otherwise(idiv_col(num, den, scale=1000))
            .cast("long")
            .alias("slope_milli_per_permille"),
        )
        .orderBy("disc_permille")
    )


# Cohort retention triangle (the classic cohort-analysis layout; see
# Fader & Hardie's CLV literature for the framing): customers cohorted
# by FIRST-order year, and for each cohort × order-age-in-years, the
# count and share (permille) of the cohort's customers that placed ANY
# order at that age — the RATE companion to the revenue LTV triangle
# (orders_ltv_triangle, which rolls up cents; this rolls up distinct
# active customers). Exact integers end-to-end: one firsts rollup, one
# distinct (customer, age) projection, one cohort×age aggregate, one
# cohort-size join.
@query(
    "orders_retention_triangle",
    oracle=f"""
    WITH {DUCK_ORDER_COHORTS},
    active AS (
      SELECT DISTINCT f.cohort_year, o.o_custkey,
             CAST(date_part('year', o.o_orderdate) AS BIGINT)
               - f.cohort_year AS age
      FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    ),
    tri AS (
      SELECT cohort_year, age, CAST(COUNT(*) AS BIGINT) AS n_active
      FROM active GROUP BY cohort_year, age
    )
    SELECT t.cohort_year, t.age, s.n_customers, t.n_active,
           CAST(1000 * t.n_active // s.n_customers AS BIGINT)
             AS retention_permille
    FROM tri t JOIN sized s ON s.cohort_year = t.cohort_year
    ORDER BY t.cohort_year, t.age
    """,
    tags=("relational", "orders"),
)
def orders_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort × age retention: distinct active customers per cohort-year
    and order-age-in-years, with the cohort share in permille. Exact
    integers; the triangle is (years × years)-bounded regardless of
    order volume."""

    o = load_tables(spark, sf_dir, "orders").orders
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).cast("long").alias("cohort_year")
    )
    sized = firsts.groupBy("cohort_year").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    active = (
        o.join(firsts, "o_custkey")
        .select(
            "cohort_year",
            "o_custkey",
            (F.year("o_orderdate").cast("long") - F.col("cohort_year")).alias(
                "age"
            ),
        )
        .distinct()
    )
    tri = active.groupBy("cohort_year", "age").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    return (
        tri.join(sized, "cohort_year")
        .select(
            "cohort_year",
            "age",
            "n_customers",
            "n_active",
            idiv_col(
                F.col("n_active"), F.col("n_customers"), scale=1000
            ).alias("retention_permille"),
        )
        .orderBy("cohort_year", "age")
    )


# Priority-mix homogeneity across order years (Pearson's chi-square for
# contingency tables, Phil. Mag. 1900): did the o_orderpriority MIX
# shift year-over-year? The r×c test statistic with expected counts
# cleared to integers: for cell (y, p) with observed o, row total r_y,
# column total c_p, grand total n,
#     chi2 = Σ (n·o − r_y·c_p)² / (n·r_y·c_p)
# — each term micro-rounded via idiv_col (truncated per cell, stated),
# numerators in DECIMAL(38,0)/HUGEINT (n·o squares past 2^63 at
# production volume). Cramér's V (1946) is reported beside it as the
# effect size: V = sqrt(chi2 / (n·min(r−1, c−1))) — the ONE float.
# The contingency table is (years × priorities)-bounded regardless of
# order volume; the relational sibling of the weekday-ANOVA /
# dispersion-index arrival battery.
@query(
    "orders_priority_mix_chi2",
    oracle="""
    WITH cells AS (
      SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS y,
             o_orderpriority AS p, CAST(COUNT(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ),
    rows_t AS (SELECT y, CAST(SUM(o) AS BIGINT) AS ry FROM cells
               GROUP BY y),
    cols_t AS (SELECT p, CAST(SUM(o) AS BIGINT) AS cp FROM cells
               GROUP BY p),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT y) AS BIGINT) AS nr,
                   CAST(COUNT(DISTINCT p) AS BIGINT) AS nc
            FROM cells),
    terms AS (
      SELECT CAST(1000000 * (CAST(t.n AS HUGEINT) * c.o - CAST(r.ry AS
                  HUGEINT) * l.cp)
                  * (CAST(t.n AS HUGEINT) * c.o - CAST(r.ry AS HUGEINT)
                     * l.cp)
                  // (CAST(t.n AS HUGEINT) * r.ry * l.cp) AS BIGINT)
               AS term_micro
      FROM cells c
      JOIN rows_t r ON r.y = c.y
      JOIN cols_t l ON l.p = c.p
      CROSS JOIN tot t
    )
    SELECT t.nr AS n_years, t.nc AS n_priorities, t.n AS n_orders,
           CAST((t.nr - 1) * (t.nc - 1) AS BIGINT) AS dof,
           CAST(SUM(m.term_micro) // 1000 AS BIGINT) AS chi2_milli,
           CAST(FLOOR(1000 * sqrt(CAST(SUM(m.term_micro) AS DOUBLE)
                / 1000000.0
                / (CAST(t.n AS DOUBLE)
                   * CAST(LEAST(t.nr - 1, t.nc - 1) AS DOUBLE))) + 0.5)
             AS BIGINT) AS cramers_v_milli
    FROM terms m CROSS JOIN tot t
    GROUP BY t.nr, t.nc, t.n
    """,
    tags=("relational", "orders", "stats"),
)
def orders_priority_mix_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square (milli) of the year × priority contingency
    table with Cramér's V effect size (milli; one sqrt float). Exact
    per-cell integer terms via cleared expected counts; the table is
    dimension-bounded (years × priorities)."""

    o = load_tables(spark, sf_dir, "orders").orders
    cells = o.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.col("o_orderpriority").alias("p"),
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    rows_t = cells.groupBy("y").agg(F.sum("o").cast("long").alias("ry"))
    cols_t = cells.groupBy("p").agg(F.sum("o").cast("long").alias("cp"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("y").cast("long").alias("nr"),
        F.countDistinct("p").cast("long").alias("nc"),
    )
    n_h = F.col("n").cast("decimal(38,0)")
    diff = n_h * F.col("o") - F.col("ry").cast("decimal(38,0)") * F.col("cp")
    terms = (
        cells.join(rows_t, "y")
        .join(cols_t, "p")
        .crossJoin(F.broadcast(tot))
        .select(
            idiv_col(
                (diff * diff).cast("decimal(38,0)"),
                n_h * F.col("ry") * F.col("cp"),
                scale=1_000_000,
            ).alias("term_micro"),
            "n",
            "nr",
            "nc",
        )
    )
    agg = terms.groupBy("nr", "nc", "n").agg(
        F.sum("term_micro").cast("long").alias("s_micro")
    )
    return agg.select(
        F.col("nr").alias("n_years"),
        F.col("nc").alias("n_priorities"),
        F.col("n").alias("n_orders"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        idiv_col(F.col("s_micro"), F.lit(1000)).alias("chi2_milli"),
        F.floor(
            F.lit(1000)
            * F.sqrt(
                F.col("s_micro").cast("double")
                / F.lit(1_000_000.0)
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("nr") - 1, F.col("nc") - 1).cast(
                        "double"
                    )
                )
            )
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cramers_v_milli"),
    )


# Mann-Whitney U + Cliff's delta, weekend vs weekday order values
# (Mann & Whitney 1947; Cliff, Psychological Bulletin 1993): the
# nonparametric two-sample location test and its effect size, both
# EXACT integers via the same doubled-average-rank machinery as the
# AUC wave — delta == 2U/(n1·n2) − 1, which is also the rank-biserial
# correlation (Wendt 1972). Complements the weekend odds-ratio wave
# (binary outcome) with the continuous-outcome view.
_MW_WEEKEND_SQL = "(dayofweek(CAST(o_orderdate AS DATE)) + 1) IN (1, 7)"


@query(
    "orders_mannwhitney_weekend",
    oracle=f"""
    WITH vals AS (
      SELECT {_MW_WEEKEND_SQL} AS weekend,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    ranked AS (
      SELECT weekend,
             2 * RANK() OVER (ORDER BY cents)
               + COUNT(*) OVER (PARTITION BY cents) - 1 AS r2
      FROM vals
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN weekend THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN weekend THEN 0 ELSE 1 END) AS BIGINT)
               AS n2,
             CAST(SUM(CASE WHEN weekend THEN r2 ELSE 0 END) AS BIGINT)
               AS r2w
      FROM ranked
    )
    SELECT n1 AS n_weekend, n2 AS n_weekday,
           CAST((r2w - n1 * (n1 + 1)) // 2 AS BIGINT) AS u_weekend,
           CAST(1000000 * (r2w - n1 * (n1 + 1)) // (2 * n1 * n2)
                AS BIGINT) AS auc_micro,
           CAST(1000 * ((r2w - n1 * (n1 + 1)) - n1 * n2)
                // (n1 * n2) AS BIGINT) AS cliffs_delta_milli
    FROM agg
    """,
    tags=("relational", "orders", "stats"),
)
def orders_mannwhitney_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U statistic, common-language effect size (AUC form) and Cliff's
    delta (milli) for weekend vs weekday order totals — doubled ranks
    keep tie-averaging integer-exact; money rides DECIMAL cents. The
    weekend predicate is the registered odds-ratio wave's, verbatim."""
    from pyspark.sql.window import Window

    from ..sources.tables import load_tables

    orders = load_tables(spark, sf_dir, "orders").orders
    vals = orders.select(
        F.dayofweek(F.col("o_orderdate").cast("date")).isin(1, 7).alias(
            "weekend"
        ),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    ranked = vals.select(
        "weekend",
        (
            F.lit(2) * F.rank().over(Window.orderBy("cents"))
            + F.count(F.lit(1)).over(Window.partitionBy("cents"))
            - 1
        )
        .cast("long")
        .alias("r2"),
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("weekend"), 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("weekend"), 0).otherwise(1))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("weekend"), F.col("r2")).otherwise(0))
        .cast("long")
        .alias("r2w"),
    )
    u2 = F.col("r2w") - F.col("n1") * (F.col("n1") + 1)
    return agg.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        idiv_col(u2, F.lit(2)).alias("u_weekend"),
        idiv_col(
            u2, F.lit(2) * F.col("n1") * F.col("n2"), scale=1_000_000
        ).alias("auc_micro"),
        idiv_col(
            u2 - F.col("n1") * F.col("n2"),
            F.col("n1") * F.col("n2"),
            scale=1000,
        ).alias("cliffs_delta_milli"),
    )


# Kaplan-Meier product-limit estimator (Kaplan & Meier, JASA 1958) for
# time-to-second-order: per customer, the event is the SECOND order
# (repurchase), duration = whole months from the first order; customers
# who never reorder are right-censored at the corpus' last order date.
# Survival at each event month is the running product of
# (n_risk − d) / n_risk — kept exact-integer by micro-truncating every
# step IN ORDER (the truncation-ordered product both engines replay
# identically: Spark F.aggregate over the month-sorted factor array,
# DuckDB list_reduce over the same prefix slices). The month dimension
# bounds everything: the O(T²) prefix products run over ≤ ~90 distinct
# event months, never over customers.
@query(
    "orders_km_repurchase",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             MIN(o_orderdate) AS first_dt,
             MIN(CASE WHEN rn = 2 THEN o_orderdate END) AS second_dt
      FROM (
        SELECT o_custkey, o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
      ) GROUP BY o_custkey
    ),
    horizon AS (SELECT MAX(o_orderdate) AS end_dt FROM orders),
    subj AS (
      SELECT CASE WHEN second_dt IS NOT NULL
                  THEN (date_part('year', second_dt)
                        - date_part('year', first_dt)) * 12
                       + date_part('month', second_dt)
                       - date_part('month', first_dt)
                  ELSE (date_part('year', h.end_dt)
                        - date_part('year', first_dt)) * 12
                       + date_part('month', h.end_dt)
                       - date_part('month', first_dt)
             END AS t,
             (second_dt IS NOT NULL) AS event
      FROM per CROSS JOIN horizon h
    ),
    etimes AS (
      SELECT CAST(t AS BIGINT) AS m,
             CAST(SUM(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
               AS d
      FROM subj GROUP BY t
      HAVING SUM(CASE WHEN event THEN 1 ELSE 0 END) > 0
    ),
    risk AS (
      SELECT e.m, e.d,
             CAST((SELECT COUNT(*) FROM subj s WHERE s.t >= e.m)
                  AS BIGINT) AS n_risk
      FROM etimes e
    ),
    arr AS (
      SELECT list(1000000 * (n_risk - d) // n_risk ORDER BY m) AS fs,
             list(m ORDER BY m) AS ms,
             list(d ORDER BY m) AS ds,
             list(n_risk ORDER BY m) AS rs
      FROM risk
    ),
    surv AS (
      SELECT unnest(ms) AS month_no, unnest(ds) AS n_events,
             unnest(rs) AS n_risk,
             unnest(list_transform(ms, (x, i) ->
               list_reduce(list_prepend(CAST(1000000 AS BIGINT),
                                        list_slice(fs, 1, i)),
                           (a, b) -> a * b // 1000000))) AS surv_micro
      FROM arr
    )
    SELECT month_no, n_risk, n_events, surv_micro
    FROM surv ORDER BY month_no
    """,
    tags=("relational", "orders", "stats"),
)
def orders_km_repurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repurchase survival curve: month_no, n_risk, n_events and
    S(t) in micro (truncation-ordered product-limit). One customer
    window + one customer aggregate are the only data-sized steps; the
    at-risk counts join customers against the ≤ ~90-row event-month
    dimension (broadcast), and the prefix products run inside a single
    collected row."""
    from pyspark.sql.window import Window

    orders = load_tables(spark, sf_dir, "orders").orders
    rn = F.row_number().over(
        Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    )
    ranked = orders.select(
        "o_custkey", "o_orderdate", rn.alias("rn")
    ).filter(F.col("rn") <= 2)
    per = ranked.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_dt"),
        F.min(F.when(F.col("rn") == 2, F.col("o_orderdate"))).alias(
            "second_dt"
        ),
    )
    horizon = orders.agg(F.max("o_orderdate").alias("end_dt"))

    def mdiff(a, b):
        return (F.year(a) - F.year(b)) * 12 + F.month(a) - F.month(b)

    subj = per.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("second_dt").isNotNull(),
            mdiff(F.col("second_dt"), F.col("first_dt")),
        )
        .otherwise(mdiff(F.col("end_dt"), F.col("first_dt")))
        .cast("long")
        .alias("t"),
        F.col("second_dt").isNotNull().alias("event"),
    )
    etimes = (
        subj.groupBy(F.col("t").alias("m"))
        .agg(
            F.sum(F.when(F.col("event"), 1).otherwise(0))
            .cast("long")
            .alias("d")
        )
        .filter(F.col("d") > 0)
    )
    risk = (
        subj.crossJoin(F.broadcast(etimes))
        .filter(F.col("t") >= F.col("m"))
        .groupBy("m", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("n_risk"))
    )
    arr = risk.agg(
        F.sort_array(
            F.collect_list(F.struct("m", "d", "n_risk"))
        ).alias("a")
    ).select(
        F.col("a.m").alias("ms"),
        F.col("a.d").alias("ds"),
        F.col("a.n_risk").alias("rs"),
        F.transform(
            "a",
            lambda s: (
                (
                    F.lit(1_000_000)
                    * (s["n_risk"] - s["d"]).cast("decimal(38,0)")
                    - (
                        F.lit(1_000_000)
                        * (s["n_risk"] - s["d"]).cast("decimal(38,0)")
                    )
                    % s["n_risk"].cast("decimal(38,0)")
                )
                / s["n_risk"].cast("decimal(38,0)")
            ).cast("long"),
        ).alias("fs"),
    )

    def _prod_step(acc, x):
        p = (acc * x).cast("decimal(38,0)")
        return ((p - (p % F.lit(1_000_000))) / F.lit(1_000_000)).cast(
            "long"
        )

    surv = arr.select(
        F.arrays_zip(
            "ms",
            "ds",
            "rs",
            F.transform(
                F.sequence(F.lit(1), F.size("fs")),
                lambda i: F.aggregate(
                    F.slice("fs", F.lit(1), i),
                    F.lit(1_000_000).cast("long"),
                    _prod_step,
                ),
            ).alias("sv"),
        ).alias("z")
    ).select(F.explode("z").alias("r"))
    return surv.select(
        F.col("r.ms").alias("month_no"),
        F.col("r.rs").alias("n_risk"),
        F.col("r.ds").alias("n_events"),
        F.col("r.sv").alias("surv_micro"),
    ).orderBy("month_no")


# One-sided CUSUM mean-shift detection on monthly order volume (Page,
# Biometrika 1954): S_t = max(0, S_{t-1} + (x_t − μ − k)), allowance
# k = μ/10 and decision interval h = 4k (both micro fixed-point,
# derived from exact integer totals — a c-chart-style mean-relative
# parameterization, stated). The recurrence is NOT a window sum (the
# max-clamp resets), so both engines replay it as prefix folds over the
# month-sorted array — the month dimension (≤ ~90) bounds the O(T²)
# prefix work, never the order count.
@query(
    "orders_cusum_monthly",
    oracle="""
    WITH monthly AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    mu AS (
      SELECT CAST(1000000 * SUM(x) // COUNT(*) AS BIGINT) AS mu_micro,
             CAST((1000000 * SUM(x) // COUNT(*)) // 10 AS BIGINT)
               AS k_micro
      FROM monthly
    ),
    arr AS (
      SELECT list(month ORDER BY month) AS months,
             list(x ORDER BY month) AS xs,
             MAX(m.mu_micro) AS mu_micro, MAX(m.k_micro) AS k_micro
      FROM monthly CROSS JOIN mu m
    ),
    folded AS (
      SELECT unnest(months) AS month, unnest(xs) AS n_orders,
             unnest(list_transform(months, (e, i) ->
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                                        list_slice(xs, 1, i)),
                           (a, b) -> GREATEST(CAST(0 AS BIGINT),
                                a + 1000000 * b - mu_micro - k_micro))))
               AS s_micro
      FROM arr
    )
    SELECT f.month, f.n_orders, f.s_micro,
           (f.s_micro > 4 * m.k_micro) AS alarm
    FROM folded f CROSS JOIN mu m
    ORDER BY f.month
    """,
    tags=("relational", "orders", "stats", "anomaly"),
)
def orders_cusum_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month CUSUM statistic (micro) and alarm flag over monthly
    order counts. One month-keyed aggregate is the only data-sized
    step; the clamped recurrence folds inside a single collected row,
    exactly as the oracle's list_reduce replays it."""
    orders = load_tables(spark, sf_dir, "orders").orders
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))

    mu = monthly.agg(
        F.sum("x").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("nm"),
    ).select(
        idiv_col(F.col("tot"), F.col("nm"), scale=1_000_000).alias(
            "mu_micro"
        )
    ).select(
        "mu_micro",
        (F.col("mu_micro") - F.col("mu_micro") % 10).cast("long").alias(
            "k10"
        ),
    ).select(
        "mu_micro", (F.col("k10") / 10).cast("long").alias("k_micro")
    )
    arr = monthly.agg(
        F.sort_array(F.collect_list(F.struct("month", "x"))).alias("a")
    ).select(
        F.col("a.month").alias("months"), F.col("a.x").alias("xs")
    )
    folded = arr.crossJoin(F.broadcast(mu)).select(
        "mu_micro",
        "k_micro",
        F.arrays_zip(
            "months",
            "xs",
            F.transform(
                F.sequence(F.lit(1), F.size("xs")),
                lambda i: F.aggregate(
                    F.slice("xs", F.lit(1), i),
                    F.lit(0).cast("long"),
                    lambda acc, b: F.greatest(
                        F.lit(0).cast("long"),
                        acc
                        + F.lit(1_000_000) * b
                        - F.col("mu_micro")
                        - F.col("k_micro"),
                    ),
                ),
            ).alias("ss"),
        ).alias("z"),
    ).select("k_micro", F.explode("z").alias("r"))
    return folded.select(
        F.col("r.months").alias("month"),
        F.col("r.xs").alias("n_orders"),
        F.col("r.ss").alias("s_micro"),
        (F.col("r.ss") > 4 * F.col("k_micro")).alias("alarm"),
    ).orderBy("month")


# Holt's linear-trend double exponential smoothing (Holt 1957,
# reprinted Int. J. Forecasting 2004) over monthly order volume, micro
# fixed-point with α = β = 1/4: level and trend updates are
# power-of-two divisions, so every step is an exact truncating integer
# operation both engines replay in the same order — the same
# prefix-fold pattern as the CUSUM row, with a (level, trend) STRUCT
# accumulator. One-step-ahead forecast errors come out beside the
# states, so the row doubles as an in-sample forecast-quality readout.
@query(
    "orders_holt_trend",
    oracle="""
    WITH monthly AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    arr AS (
      SELECT list(month ORDER BY month) AS months,
             list(x ORDER BY month) AS xs
      FROM monthly
    ),
    folded AS (
      -- (level, trend) packed into ONE HUGEINT code = l*2^41 + (b+2^40):
      -- DuckDB evaluates struct-literal lambda fields sequentially with
      -- same-named acc fields SHADOWED by already-computed ones, so a
      -- {'l','b'} accumulator silently reads the new l inside the b
      -- expression — packing sidesteps engine-specific struct-lambda
      -- semantics with plain integer ops both engines define identically
      SELECT unnest(months) AS month, unnest(xs) AS n_orders,
             unnest(list_transform(months, (e, i) ->
               list_reduce(
                 list_prepend(
                   CAST(1000000 AS HUGEINT) * xs[1] * 2199023255552
                     + 1099511627776,
                   list_transform(list_slice(xs, 2, i), v ->
                     CAST(v AS HUGEINT))),
                 (acc, v) ->
                   ((1000000 * v
                     + 3 * ((acc - acc % 2199023255552) // 2199023255552
                            + acc % 2199023255552 - 1099511627776)) // 4)
                   * 2199023255552
                   + ((((1000000 * v
                         + 3 * ((acc - acc % 2199023255552)
                                // 2199023255552
                                + acc % 2199023255552 - 1099511627776))
                        // 4)
                       - (acc - acc % 2199023255552) // 2199023255552
                       + 3 * (acc % 2199023255552 - 1099511627776)) // 4)
                   + 1099511627776))) AS code
      FROM arr
    ),
    states AS (
      SELECT month, n_orders,
             CAST((code - code % 2199023255552) // 2199023255552
                  AS BIGINT) AS level_micro,
             CAST(code % 2199023255552 - 1099511627776 AS BIGINT)
               AS trend_micro
      FROM folded
    )
    SELECT month, n_orders, level_micro, trend_micro,
           CAST(level_micro + trend_micro AS BIGINT)
             AS forecast_next_micro
    FROM states
    ORDER BY month
    """,
    tags=("relational", "orders", "stats", "forecast"),
)
def orders_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month Holt level/trend (micro) and the next-month forecast,
    α = β = 1/4 truncating fixed-point. The fold runs over the
    month-sorted array inside one collected row (month dimension ≤ ~90
    bounds the O(T²) prefix work); the only data-sized step is the
    month aggregate."""
    orders = load_tables(spark, sf_dir, "orders").orders
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    arr = monthly.agg(
        F.sort_array(F.collect_list(F.struct("month", "x"))).alias("a")
    ).select(
        F.col("a.month").alias("months"), F.col("a.x").alias("xs")
    )

    # (level, trend) packed into one DECIMAL(38,0) code = l*2^41 +
    # (b + 2^40) — see the oracle's note: struct-literal lambda field
    # semantics differ across engines (DuckDB shadows same-named acc
    # fields sequentially), so the fold carries a single integer whose
    # unpack/repack is plain truncating arithmetic both engines define
    # identically (% carries the dividend's sign in both).
    P = F.lit(2_199_023_255_552)  # 2^41
    B = F.lit(1_099_511_627_776)  # 2^40
    dec = "decimal(38,0)"

    def _step(acc, v):
        # every intermediate re-cast to DECIMAL(38,0): Spark's decimal
        # division widens the scale, and the quotients here are integral
        # by construction (numerators pre-reduced by their % residue)
        bp = acc % P
        lv = ((acc - bp) / P).cast(dec)
        bv = (bp - B).cast(dec)
        s = ((F.lit(1_000_000) * v).cast(dec) + 3 * (lv + bv)).cast(dec)
        ln = ((s - s % 4) / 4).cast(dec)
        bn_num = (ln - lv + 3 * bv).cast(dec)
        bn = ((bn_num - bn_num % 4) / 4).cast(dec)
        return (ln * P + (bn + B)).cast(dec)

    folded = arr.select(
        F.arrays_zip(
            "months",
            "xs",
            F.transform(
                F.sequence(F.lit(1), F.size("xs")),
                lambda i: F.aggregate(
                    F.slice("xs", F.lit(2), i - 1),
                    (
                        (F.lit(1_000_000) * F.element_at("xs", 1)).cast(
                            dec
                        )
                        * P
                        + B
                    ).cast(dec),
                    _step,
                ),
            ).alias("st"),
        ).alias("z")
    ).select(F.explode("z").alias("r"))
    code = F.col("r.st")
    bp = code % P
    level = ((code - bp) / P).cast("long")
    trend = (bp - B).cast("long")
    return folded.select(
        F.col("r.months").alias("month"),
        F.col("r.xs").alias("n_orders"),
        level.alias("level_micro"),
        trend.alias("trend_micro"),
        (level + trend).cast("long").alias("forecast_next_micro"),
    ).orderBy("month")
