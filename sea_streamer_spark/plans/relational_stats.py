"""Exact statistics and inequality indices over TPC-H revenue (variance,
correlation, Gini/HHI/Theil/Atkinson, MAD, equi-height histograms) and
the differential-privacy budget plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .order_analytics import (
    REV_CENTS_SQL,
    duck_nation_customer_rev,
    nation_customer_rev,
)
from .registry import QUERIES, query


VAL = "CAST(value AS DECIMAL(14,2))"


@query(
    "agg_variance_exact",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM({VAL}) AS DOUBLE) AS sum_v,
           CAST((CAST(SUM({VAL} * {VAL}) AS DOUBLE)
                 - CAST(SUM({VAL}) AS DOUBLE) * CAST(SUM({VAL}) AS DOUBLE) / COUNT(*))
                / (COUNT(*) - 1) AS DOUBLE) AS var_v
    FROM events GROUP BY event_type
    """,
    tags=("relational", "agg", "stats"),
)
def agg_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance from exact decimal sums (Σx, Σx²) — engine-portable
    (built-in variance uses streaming formulations that differ numerically
    across engines; this one is bit-reproducible)."""
    t = load_tables(spark, sf_dir, "events")
    s = F.sum(F.expr(VAL)).cast("double")
    s2 = F.sum(F.expr(f"{VAL} * {VAL}")).cast("double")
    n = F.count(F.lit(1))
    return t.events.groupBy("event_type").agg(
        n.alias("n"),
        s.alias("sum_v"),
        ((s2 - s * s / n) / (n - F.lit(1))).cast("double").alias("var_v"),
    )


@query(
    "agg_corr_exact",
    oracle="""
    WITH sums AS MATERIALIZED (
      -- DECIMAL(38,·) → DOUBLE through VARCHAR: DuckDB's direct cast
      -- double-rounds (int128→double, then /10^scale) and lands 1 ulp off
      -- the correctly-rounded value the JVM's BigDecimal→double produces
      -- (observed on spp at sf0.001); the string parse rounds once
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(CAST(SUM(q * p) AS VARCHAR) AS DOUBLE) AS sqp,
             CAST(CAST(SUM(q) AS VARCHAR) AS DOUBLE) AS sq,
             CAST(CAST(SUM(p) AS VARCHAR) AS DOUBLE) AS sp,
             CAST(CAST(SUM(q * q) AS VARCHAR) AS DOUBLE) AS sqq,
             CAST(CAST(SUM(p * p) AS VARCHAR) AS DOUBLE) AS spp
      FROM (SELECT l_returnflag,
                   CAST(l_quantity AS DECIMAL(12,2)) AS q,
                   CAST(l_extendedprice AS DECIMAL(12,2)) AS p
            FROM lineitem) x
      GROUP BY l_returnflag
    ), prods AS MATERIALIZED (
      -- each product in its own projection: DuckDB's vectorizer may fuse
      -- a·b − c·d into a single-rounding FMA (the JVM rounds each product),
      -- which flipped corr_qp by 1 ulp at sf0.001; materializing the
      -- products forces the JVM's two-rounding arithmetic
      SELECT l_returnflag, n,
             n * sqp AS t1, sq * sp AS t2,
             n * sqq AS t3, sq * sq AS t4,
             n * spp AS t5, sp * sp AS t6
      FROM sums
    )
    SELECT l_returnflag, n,
           CAST((t1 - t2) / SQRT((t3 - t4) * (t5 - t6)) AS DOUBLE) AS corr_qp
    FROM prods
    """,
    tags=("relational", "agg", "stats"),
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact decimal sums (Σq, Σp, Σqp, Σq², Σp²) —
    bit-reproducible across engines and partition orders, unlike the built-in
    streaming corr(). All five sums ride one map-side-combined shuffle."""
    t = load_tables(spark, sf_dir, "lineitem")
    q = F.expr("CAST(l_quantity AS DECIMAL(12,2))")
    p = F.expr("CAST(l_extendedprice AS DECIMAL(12,2))")
    n = F.count(F.lit(1))
    sq, sp = F.sum(q).cast("double"), F.sum(p).cast("double")
    sqp = F.sum(q * p).cast("double")
    sqq, spp = F.sum(q * q).cast("double"), F.sum(p * p).cast("double")
    corr = ((n * sqp - sq * sp) / F.sqrt((n * sqq - sq * sq) * (n * spp - sp * sp))).cast(
        "double"
    )
    return t.lineitem.groupBy("l_returnflag").agg(n.alias("n"), corr.alias("corr_qp"))


# ANALYZE-style statistics: equi-height histogram + MAD robust outliers
_HIST_B = 8


@query(
    "profile_equiheight_histogram",
    oracle=f"""
    WITH v AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c, o_orderkey
      FROM orders
    ), r AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c, o_orderkey) AS rn,
             COUNT(*) OVER () AS n
      FROM v
    )
    SELECT CAST((rn - 1) * {_HIST_B} // n AS BIGINT) AS bucket,
           CAST(MIN(c) AS BIGINT) AS lo_cents,
           CAST(MAX(c) AS BIGINT) AS hi_cents,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM r
    GROUP BY 1 ORDER BY 1
    """,
    tags=("relational", "stats"),
)
def profile_equiheight_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-height (height-balanced) histogram over order totals — the
    ANALYZE-TABLE statistic a cost-based optimizer feeds selectivity
    estimation from (the companion of `sketch_join_cardinality`'s
    frequency grids). Values are exact integer cents; bucket assignment is
    the deterministic integer rank formula ``(rn-1)·B div n`` over the
    totally-ordered (value, key) sequence, so boundaries and counts are
    engine-exact. The global row_number is the textbook single-column
    stats pass — at 100 TB you run it per range-partition on a sample
    (the documented swap); bucket count is fixed, output is B rows."""
    from pyspark.sql import Window

    orders = load_tables(spark, sf_dir, "orders").orders
    v = orders.select(
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("c"),
        "o_orderkey",
    )
    w = Window.orderBy("c", "o_orderkey")
    r = v.select(
        "c",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return (
        r.groupBy(
            F.expr(f"CAST((rn - 1) * {_HIST_B} div n AS BIGINT)").alias("bucket")
        )
        .agg(
            F.min("c").cast("long").alias("lo_cents"),
            F.max("c").cast("long").alias("hi_cents"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .orderBy("bucket")
    )


_REV_DOLLARS_SQL = "SUM(CAST(FLOOR(CAST(o.o_totalprice AS DECIMAL(14,2))) AS BIGINT)) AS dollars"


@query(
    "agg_gini_by_nation",
    oracle=f"""
    WITH {duck_nation_customer_rev(REV_CENTS_SQL)}, ranked AS (
      SELECT nation, cents,
             ROW_NUMBER() OVER (PARTITION BY nation
                                ORDER BY cents, custkey) AS i
      FROM rev
    ), agg AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(i * cents) AS BIGINT) AS sixi,
             CAST(SUM(cents) AS BIGINT) AS sx
      FROM ranked GROUP BY nation
    )
    SELECT nation, n AS n_customers,
           CAST(FLOOR((1000000.0 * ((2 * sixi) - ((n + 1) * sx)))
                      / (n * sx)) AS BIGINT) AS gini_micro
    FROM agg ORDER BY nation
    """,
    tags=("relational", "profile"),
)
def agg_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini inequality index of customer revenue per nation — the single-
    number concentration measure next to the Pareto cut (0 = everyone
    equal, →1 = one customer is the business), via the rank formula
    G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over ascending revenue ranks. The
    numerator and denominator stay exact BIGINTs (DECIMAL-cents, integer
    rank products — tie order among equal values provably cancels out of
    Σi·xᵢ); only the final quotient is one double multiply + one divide +
    FLOOR, the identical IEEE expression tree in both engines.

    Plan: one (nation, customer)-keyed agg → ONE nation-keyed window
    shuffle for the rank → a ≤ |nations|-row agg. Segmented, never a
    global order; same skew posture as the Pareto query."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    cents = (
        F.col("o_totalprice").cast("decimal(14,2)") * 100
    ).cast("long")
    rev = nation_customer_rev(t, cents, "cents")
    i = F.row_number().over(
        W.partitionBy("nation").orderBy("cents", "c_custkey")
    ).cast("long")
    ranked = rev.select("nation", "cents", i.alias("i"))
    agg = ranked.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("i") * F.col("cents")).cast("long").alias("sixi"),
        F.sum("cents").cast("long").alias("sx"),
    )
    gini = F.floor(
        (1000000.0 * ((2 * F.col("sixi")) - ((F.col("n") + 1) * F.col("sx"))))
        / (F.col("n") * F.col("sx"))
    ).cast("long")
    return agg.select(
        "nation", F.col("n").alias("n_customers"), gini.alias("gini_micro")
    ).orderBy("nation")


@query(
    "agg_hhi_by_nation",
    oracle=f"""
    WITH {duck_nation_customer_rev(_REV_DOLLARS_SQL)}, agg AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dollars * dollars) AS BIGINT) AS sc2,
             CAST(SUM(dollars) AS BIGINT) AS t
      FROM rev GROUP BY nation
    )
    SELECT nation, n AS n_customers,
           CAST(FLOOR((1000000.0 * sc2) / (CAST(t AS DOUBLE) * t))
                AS BIGINT) AS hhi_micro
    FROM agg ORDER BY nation
    """,
    tags=("relational", "profile"),
)
def agg_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of customer revenue per
    nation — the OTHER standard concentration measure next to Gini
    (HHI = Σ shareᵢ², 1e6/n = perfectly even, 1e6 = monopoly). Shares are
    unit-invariant, so revenue rides as WHOLE floor-dollars: in cents
    Σcᵢ² overflows BIGINT at sf0.1 (≈1e21), in dollars it is an exact
    BIGINT ≈1e17 — measured, not guessed (ANSI mode turns the cents
    formulation into a runtime ArithmeticException, which is how this
    was caught). Only the final quotient is the identical double tree in
    both engines — t converts to double BEFORE squaring for the same
    overflow reason.

    Plan: one (nation, customer)-keyed agg (partials combine map-side),
    then a ≤ |nations|-row agg — no window at all; HHI needs no ranks,
    which is exactly why it complements the rank-based Gini."""
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    dollars = F.floor(F.col("o_totalprice").cast("decimal(14,2)")).cast(
        "long"
    )
    rev = nation_customer_rev(t, dollars, "dollars")
    agg = rev.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("dollars") * F.col("dollars")).cast("long").alias("sc2"),
        F.sum("dollars").cast("long").alias("t"),
    )
    hhi = F.floor(
        (1000000.0 * F.col("sc2")) / (F.col("t").cast("double") * F.col("t"))
    ).cast("long")
    return agg.select(
        "nation", F.col("n").alias("n_customers"), hhi.alias("hhi_micro")
    ).orderBy("nation")


# Theil inequality index per nation (Theil, "Economics and Information
# Theory", 1967): T = (1/n)·Σ (x_i/μ)·ln(x_i/μ) over order totals —
# the decomposable entropy-based inequality measure beside the
# registry's Gini and HHI. Per-order terms are micro-rounded before
# the sum (order-free integer total, the KN recipe); μ derives from
# the exact DECIMAL sum so both engines divide identical doubles.
@query(
    "agg_theil_index_by_nation",
    oracle="""
    WITH base AS (
      SELECT n.n_name AS nation,
             CAST(CAST(o.o_totalprice AS DECIMAL(18, 2)) * 100 AS BIGINT)
               AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    mu AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(cents) AS BIGINT) AS tot
      FROM base GROUP BY nation
    ),
    terms AS (
      SELECT b.nation,
             CAST(ROUND((CAST(b.cents AS DOUBLE) * m.n_orders / m.tot)
                        * ln(CAST(b.cents AS DOUBLE) * m.n_orders / m.tot)
                        * 1000000) AS BIGINT) AS t
      FROM base b JOIN mu m ON m.nation = b.nation
    )
    SELECT m.nation, m.n_orders,
           CAST(SUM(t.t) // m.n_orders AS BIGINT) AS theil_micro
    FROM mu m JOIN terms t ON t.nation = m.nation
    GROUP BY m.nation, m.n_orders
    ORDER BY m.nation
    """,
    tags=("relational", "agg", "stats"),
)
def agg_theil_index_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of order totals per customer nation (micro):
    the entropy-based companion to agg_gini_by_nation / agg_hhi —
    decomposable across subgroups, which is why inequality audits of
    revenue concentration prefer it. Per-order micro-rounded terms,
    exact integer cents (DECIMAL-cast before scaling), one keyed
    aggregate after two dimension joins (nation broadcast). T >= 0,
    0 = perfectly equal."""
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    base = (
        t.orders.join(
            t.customer, t.orders.o_custkey == t.customer.c_custkey
        )
        .join(
            F.broadcast(t.nation),
            t.customer.c_nationkey == t.nation.n_nationkey,
        )
        .select(
            F.col("n_name").alias("nation"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    mu = base.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("tot"),
    )
    x = F.col("cents").cast("double") * F.col("n_orders") / F.col("tot")
    terms = base.join(F.broadcast(mu), "nation").select(
        "nation",
        "n_orders",
        F.round(x * F.log(x) * 1_000_000).cast("long").alias("t"),
    )
    return (
        terms.groupBy("nation", "n_orders")
        .agg(idiv_col(F.sum("t"), F.col("n_orders")).alias("theil_micro"))
        .orderBy("nation")
    )


# Differential-privacy budget plan (Dwork, McSherry, Nissim & Smith,
# TCC 2006): for the k-anonymity audit's quasi-identifier cells
# (nation × market segment — single-sourced with privacy_k_anonymity
# so the two governance tables can never disagree about a cell), the
# Laplace-mechanism calibration table a release pipeline materializes
# BEFORE adding noise: per cell and per ε in the standard grid, the
# scale b = Δf/ε (count queries, Δf = 1), the expected absolute noise
# E|Lap(b)| = b, and the expected relative error against the true cell
# count. Everything is exact integers — the ε grid is a python-literal
# micro table, so b_micro = 10¹²/ε_micro is integer arithmetic and no
# float exists anywhere (a DP PLAN is deterministic; only the noise
# draw itself, out of scope here, is random).

#: ε grid in micro units (0.1, 0.5, 1.0) and the exact Laplace scale
#: b = 1/ε in micro units for sensitivity-1 count queries.
_DP_EPS = ((100_000, 10_000_000), (500_000, 2_000_000), (1_000_000, 1_000_000))


@query(
    "privacy_dp_budget_plan",
    oracle=f"""
    WITH cells AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS class_size
      FROM customer GROUP BY 1, 2
    ),
    eps(eps_micro, b_micro) AS (
      VALUES {", ".join(f"(CAST({e} AS BIGINT), CAST({b} AS BIGINT))" for e, b in _DP_EPS)}
    )
    SELECT c.nation, c.segment, c.class_size,
           CAST(e.eps_micro AS BIGINT) AS eps_micro,
           CAST(e.b_micro AS BIGINT) AS noise_scale_micro,
           CAST(CAST(1000 AS BIGINT) * e.b_micro
                // (c.class_size * 1000000) AS BIGINT)
             AS rel_err_permille,
           CAST(c.class_size >= 5 AS BIGINT) AS k_anonymous
    FROM cells c CROSS JOIN eps e
    ORDER BY c.nation, c.segment, e.eps_micro
    """,
    tags=("relational", "privacy"),
)
def privacy_dp_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism calibration per quasi-identifier cell and ε:
    noise scale, expected relative error (permille of the true count),
    and the k-anonymity flag — the deterministic planning table for a
    DP release of the cell histogram. Pure integer arithmetic (the ε
    grid and 1/ε scales are import-time literals). Plan: one cell
    aggregate crossed with a 3-row broadcast grid."""
    cust = load_tables(spark, sf_dir, "customer").customer
    cells = cust.groupBy(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(F.count(F.lit(1)).cast("long").alias("class_size"))
    eps = F.broadcast(
        spark.createDataFrame(list(_DP_EPS), "eps_micro long, b_micro long")
    )
    return (
        cells.crossJoin(eps)
        .select(
            "nation",
            "segment",
            "class_size",
            "eps_micro",
            F.col("b_micro").alias("noise_scale_micro"),
            idiv_col(
                F.lit(1000) * F.col("b_micro"),
                F.col("class_size") * 1_000_000,
            ).alias("rel_err_permille"),
            (F.col("class_size") >= 5).cast("long").alias("k_anonymous"),
        )
        .orderBy("nation", "segment", "eps_micro")
    )


# MAD of order value per nation (the robust-spread column beside the
# Gini / HHI / Theil concentration rows — Hampel 1974 again, this time
# as a per-group aggregate over money): median order value and the
# median absolute deviation, both exact integer CENTS via lower-median
# rank windows. A nation whose MAD rivals its median has erratic order
# sizing regardless of what the mean/SD (skew-fragile) would claim.
@query(
    "agg_order_mad_by_nation",
    oracle="""
    WITH ov AS (
      SELECT c.c_nationkey AS nation,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
             o.o_orderkey
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    med AS (
      SELECT nation, cents AS m FROM (
        SELECT nation, cents,
               ROW_NUMBER() OVER (PARTITION BY nation
                                  ORDER BY cents, o_orderkey) AS vr,
               COUNT(*) OVER (PARTITION BY nation) AS n
        FROM ov
      ) WHERE vr = (n + 1) // 2
    ),
    dev AS (
      SELECT ov.nation, ABS(ov.cents - med.m) AS ad, ov.o_orderkey,
             med.m
      FROM ov JOIN med ON med.nation = ov.nation
    ),
    mad AS (
      SELECT nation, ad AS mad, m FROM (
        SELECT nation, ad, m,
               ROW_NUMBER() OVER (PARTITION BY nation
                                  ORDER BY ad, o_orderkey) AS vr,
               COUNT(*) OVER (PARTITION BY nation) AS n
        FROM dev
      ) WHERE vr = (n + 1) // 2
    )
    SELECT m2.nation,
           CAST((SELECT COUNT(*) FROM ov WHERE ov.nation = m2.nation)
                AS BIGINT) AS n_orders,
           m2.m AS median_cents, m2.mad AS mad_cents,
           CAST(CASE WHEN m2.m > 0 THEN 1000 * m2.mad // m2.m ELSE 0 END
                AS BIGINT) AS mad_over_median_permille
    FROM mad m2 ORDER BY m2.nation
    """,
    tags=("relational", "agg", "stats"),
)
def agg_order_mad_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median and MAD of order value per customer nation (exact cents,
    lower medians by rank window, orderkey tie-break) with the
    MAD/median ratio (permille) — the robust-spread companion to the
    Gini/HHI/Theil rows. Two rank windows keyed by nation; no floats."""
    from pyspark.sql.window import Window


    t = load_tables(spark, sf_dir, "orders", "customer")
    ov = t.orders.join(
        t.customer, t.orders.o_custkey == t.customer.c_custkey
    ).select(
        F.col("c_nationkey").alias("nation"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    wp = Window.partitionBy("nation")
    med = (
        ov.select(
            "*",
            F.row_number()
            .over(wp.orderBy("cents", "o_orderkey"))
            .alias("vr"),
            F.count(F.lit(1)).over(wp).alias("n"),
        )
        .filter(F.col("vr") == F.floor((F.col("n") + 1) / 2))
        .select("nation", F.col("cents").alias("m"), F.col("n").alias("n_orders"))
    )
    dev = ov.join(med, "nation").select(
        "nation",
        F.abs(F.col("cents") - F.col("m")).alias("ad"),
        "o_orderkey",
        "m",
        "n_orders",
    )
    mad = (
        dev.select(
            "*",
            F.row_number().over(wp.orderBy("ad", "o_orderkey")).alias("vr"),
            F.count(F.lit(1)).over(wp).alias("n2"),
        )
        .filter(F.col("vr") == F.floor((F.col("n2") + 1) / 2))
        .select("nation", F.col("ad").alias("mad"), "m", "n_orders")
    )
    return mad.select(
        "nation",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("m").alias("median_cents"),
        F.col("mad").alias("mad_cents"),
        F.when(F.col("m") > 0, idiv_col(F.col("mad"), F.col("m"), scale=1000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("mad_over_median_permille"),
    ).orderBy("nation")


# Spearman rank agreement between the two registered market-concentration
# measures (Spearman, Am. J. Psychol. 1904): do Gini and HHI RANK the
# nations the same way? Both relations are single-sourced from the
# registry (agg_gini_by_nation / agg_hhi_by_nation embedded verbatim),
# and with distinct ranks Spearman is EXACT integer arithmetic:
#     rho = 1 − 6·Σd² / (n(n² − 1))
#     rho_milli = (1000·(n(n²−1) − 6Σd²)) // (n(n²−1))   (signed trunc)
# — the Pearson-of-ranks companion to the Kendall tau wave (tau counts
# inversions; Spearman weights displacement quadratically, so one
# far-displaced nation moves rho more than tau). Ranks tie-break by
# nation asc, stated in both engines. Values: gini_micro / hhi_micro.
def _build_spearman_oracle() -> str:

    gini = QUERIES["agg_gini_by_nation"].oracle.strip()
    hhi = QUERIES["agg_hhi_by_nation"].oracle.strip()
    return f"""
    WITH gr AS (
      SELECT nation, CAST(ROW_NUMBER() OVER (ORDER BY gini_micro DESC,
                                             nation) AS BIGINT) AS rg
      FROM ({gini})
    ),
    hr AS (
      SELECT nation, CAST(ROW_NUMBER() OVER (ORDER BY hhi_micro DESC,
                                             nation) AS BIGINT) AS rh
      FROM ({hhi})
    ),
    d2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((rg - rh) * (rg - rh)) AS BIGINT) AS sd2
      FROM gr JOIN hr USING (nation)
    )
    SELECT n AS n_nations, sd2 AS sum_d2,
           CAST(CASE WHEN n > 1
                THEN (1000 * (n * (n * n - 1) - 6 * sd2))
                     // (n * (n * n - 1))
                ELSE 1000 END AS BIGINT) AS spearman_rho_milli
    FROM d2
    """


@query(
    "agg_concentration_rank_agreement",
    oracle=_build_spearman_oracle(),
    tags=("relational", "stats", "eval"),
)
def agg_concentration_rank_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rho (milli, exact integer — ranks are distinct by the
    nation tie-break) between the registered Gini and HHI nation
    rankings. Reuses both registered relations verbatim; the rank join
    is nation-dimension bounded (25 rows)."""
    from pyspark.sql.window import Window


    gr = agg_gini_by_nation(spark, sf_dir).select(
        "nation",
        F.row_number()
        .over(Window.orderBy(F.desc("gini_micro"), F.asc("nation")))
        .cast("long")
        .alias("rg"),
    )
    hr = agg_hhi_by_nation(spark, sf_dir).select(
        "nation",
        F.row_number()
        .over(Window.orderBy(F.desc("hhi_micro"), F.asc("nation")))
        .cast("long")
        .alias("rh"),
    )
    d2 = gr.join(hr, "nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("rg") - F.col("rh")) * (F.col("rg") - F.col("rh")))
        .cast("long")
        .alias("sd2"),
    )
    n = F.col("n")
    denom = n * (n * n - 1)
    return d2.select(
        n.alias("n_nations"),
        F.col("sd2").alias("sum_d2"),
        F.when(n > 1, idiv_col(denom - 6 * F.col("sd2"), denom, scale=1000))
        .otherwise(F.lit(1000))
        .cast("long")
        .alias("spearman_rho_milli"),
    )


# Atkinson inequality index, ε = 1/2 (Atkinson, J. Economic Theory
# 1970) of order values per customer nation — the welfare-grounded
# member of the inequality family beside the registered Gini / Theil /
# HHI / Lorenz rows. ε = 1/2 keeps the generalized mean a sqrt chain:
# EDE = ((Σ √x)/n)², A = 1 − EDE/μ. Each row's √cents is one
# correctly-rounded sqrt micro-floored to an integer; the sums are
# exact; the final combine is one fixed-order float expression.
@query(
    "agg_atkinson_by_nation",
    oracle="""
    WITH vals AS (
      SELECT n.n_name AS nation,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    agg AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS total,
             CAST(SUM(CAST(FLOOR(1000000 * sqrt(CAST(cents AS DOUBLE)))
                           AS BIGINT)) AS BIGINT) AS s_micro
      FROM vals GROUP BY nation
    )
    SELECT nation, n AS n_orders,
           CAST(FLOOR(1000.0 * (1.0
                - (CAST(s_micro AS DOUBLE) / n)
                  * (CAST(s_micro AS DOUBLE) / n)
                  / 1e12
                  / (CAST(total AS DOUBLE) / n)) + 0.5) AS BIGINT)
             AS atkinson_milli
    FROM agg
    ORDER BY nation
    """,
    tags=("relational", "agg", "stats"),
)
def agg_atkinson_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A(ε=1/2) in milli per customer nation over order values (cents).
    One data-sized aggregate after two dimension joins; per-row sqrt is
    micro-floored to an integer so the nation sums are exact and
    aggregation-order-free, then one fixed-order float finish."""
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    vals = (
        t.orders.join(
            F.broadcast(t.customer),
            t.orders.o_custkey == t.customer.c_custkey,
        )
        .join(
            F.broadcast(t.nation),
            t.customer.c_nationkey == t.nation.n_nationkey,
        )
        .select(
            F.col("n_name").alias("nation"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    agg = vals.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total"),
        F.sum(
            F.floor(
                F.lit(1_000_000.0) * F.sqrt(F.col("cents").cast("double"))
            ).cast("long")
        )
        .cast("long")
        .alias("s_micro"),
    )
    sm = F.col("s_micro").cast("double")
    a = F.lit(1.0) - (sm / F.col("n")) * (sm / F.col("n")) / F.lit(
        1e12
    ) / (F.col("total").cast("double") / F.col("n"))
    return agg.select(
        "nation",
        F.col("n").alias("n_orders"),
        F.floor(F.lit(1000.0) * a + F.lit(0.5)).cast("long").alias(
            "atkinson_milli"
        ),
    ).orderBy("nation")
