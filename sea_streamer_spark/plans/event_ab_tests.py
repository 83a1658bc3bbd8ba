"""A/B and two-group tests over the events table: conversion, SRM, CUPED,
Poisson bootstrap, odds ratios and Welch's t-test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.curation import duck_split_bucket
from ..operators.exact import idiv_col
from ..operators.text import duck_char_fold as _dfold
from ..sources.tables import load_tables
from .registry import query


@query(
    "events_ab_conversion",
    oracle=f"""
    WITH fv AS (
      SELECT user_id,
             {_dfold("md5(CAST(user_id AS VARCHAR))")} % 2 AS arm,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               AS first_view
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT f.user_id, f.arm,
             CASE WHEN f.first_view IS NOT NULL THEN 1 ELSE 0 END AS exposed,
             CASE WHEN f.first_view IS NOT NULL AND EXISTS (
               SELECT 1 FROM events e
               WHERE e.user_id = f.user_id AND e.event_type = 'purchase'
                 AND epoch_us(e.ts) > f.first_view
                 AND epoch_us(e.ts) <= f.first_view + 3600000000
             ) THEN 1 ELSE 0 END AS conv
      FROM fv f
    ), arms AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN exposed ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN arm = 1 THEN exposed ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
      FROM conv
    )
    SELECT n_a, c_a, n_b, c_b,
           CAST(CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN 0
                ELSE FLOOR(
             ((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
              / SQRT((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                     * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                     * (1.0 / n_a + 1.0 / n_b)))
             * 1000000 + 0.5) END AS BIGINT) AS z_micro
    FROM arms
    """,
    tags=("streaming", "events", "stats"),
)
def events_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash-split into two arms with the
    registry's portable bucket hash (assignment reproducible across runs
    and engines — the experimentation requirement), per-arm view→purchase
    conversion (ordered: a purchase must FOLLOW the first view), and the
    classic two-proportion pooled z statistic. Exact integer counts; the
    z formula is correctly-rounded double ops in one fixed order (divides
    and a sub-of-divides — no FMA-fusable product-pair anywhere),
    micro-rounded. Plan: one user-keyed conditional aggregate, then a
    1-row arm rollup."""
    from ..operators.curation import split_bucket

    ev = load_tables(spark, sf_dir, "events").events
    fv = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.unix_micros("ts"))
            ).alias("first_view")
        )
        .withColumn("arm", split_bucket("user_id", 2))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("pts")
    )
    hits = (
        fv.join(purch, "user_id", "left")
        .filter(
            F.col("pts").isNotNull()
            & (F.col("pts") > F.col("first_view"))
            & (F.col("pts") <= F.col("first_view") + 3_600_000_000)
        )
        .select("user_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    per_user = fv.join(hits, "user_id", "left").select(
        "arm",
        F.col("first_view").isNotNull().cast("long").alias("exposed"),
        (F.col("first_view").isNotNull() & F.col("hit").isNotNull())
        .cast("long")
        .alias("conv"),
    )
    arms = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("exposed")).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("exposed")).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    pa = F.col("c_a").cast("double") / F.col("n_a")
    pb = F.col("c_b").cast("double") / F.col("n_b")
    pp = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (pa - pb) / F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    degenerate = (F.col("c_a") + F.col("c_b") == 0) | (
        F.col("c_a") + F.col("c_b") == F.col("n_a") + F.col("n_b")
    )
    return arms.select(
        "n_a", "c_a", "n_b", "c_b",
        F.when(degenerate, F.lit(0))
        .otherwise(F.floor(z * 1_000_000 + 0.5))
        .cast("long")
        .alias("z_micro"),
    )


@query(
    "events_ab_srm_check",
    oracle=f"""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(md5(CAST(user_id AS VARCHAR)), ''), c -> CAST(ascii(c) AS BIGINT))), (a, b) -> (a * 31 + b) % 1000000007) % 2 AS arm FROM u)
    )
    SELECT n_a, n_b, CAST(n_a - n_b AS BIGINT) AS delta,
           CAST(FLOOR(1000000.0 * (n_a - n_b) * (n_a - n_b) / (n_a + n_b))
             AS BIGINT) AS chi2_micro,
           FLOOR(1000000.0 * (n_a - n_b) * (n_a - n_b) / (n_a + n_b))
             > 3841459 AS srm_flag
    FROM arms
    """,
    tags=("streaming", "events", "stats"),
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for the A/B split (the chi-square
    guard run BEFORE reading events_ab_conversion's z — a biased
    assignment invalidates any downstream readout): users assigned by
    the SAME portable bucket hash as the conversion query, per-arm user
    counts, and the 1-df chi-square statistic against the designed 50/50
    split (for two cells it reduces exactly to (n_a−n_b)²/(n_a+n_b)),
    flagged at the 0.05 critical value 3.841459. Counts are integers;
    the statistic is one fixed-order double expression micro-floored.
    One distinct-users aggregate; a single output row."""
    from ..operators.curation import split_bucket

    ev = load_tables(spark, sf_dir, "events").events
    arms = (
        ev.select("user_id")
        .distinct()
        .withColumn("arm", split_bucket("user_id", 2))
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
        )
    )
    chi2 = F.floor(
        F.lit(1_000_000.0)
        * (F.col("n_a") - F.col("n_b"))
        * (F.col("n_a") - F.col("n_b"))
        / (F.col("n_a") + F.col("n_b"))
    )
    return arms.select(
        "n_a",
        "n_b",
        (F.col("n_a") - F.col("n_b")).cast("long").alias("delta"),
        chi2.cast("long").alias("chi2_micro"),
        (chi2 > 3_841_459).alias("srm_flag"),
    )


# CUPED variance reduction (Deng, Xu, Kohavi & Walker, "Improving the
# Sensitivity of Online Controlled Experiments by Utilizing Pre-
# Experiment Data", WSDM 2013): the industry-standard A/B variance
# reducer. Y = per-user post-period value sum, X = the pre-period
# covariate, θ = cov(X,Y)/var(X) pooled across arms, Ŷ = Y - θ(X - X̄);
# the achievable variance reduction is exactly ρ²(X,Y). Per-row values
# are milli-fixed-point BIGINTs (the rollup-restatement recipe: explicit
# ROUND before CAST — bare casts split the engines), so every moment sum
# is an exact integer; θ/ρ²/means are one double expression each over
# those sums, rounded once. Arms reuse the registry's portable bucket
# hash (events_ab_conversion/_srm_check — the three A/B queries can
# never disagree about assignment).

#: pre-period length in days from the corpus' first event day.
_CUPED_PRE_DAYS = 15


@query(
    "events_ab_cuped",
    oracle=f"""
    WITH base AS (
      SELECT user_id,
             CAST(ROUND(value * 1000, 0) AS BIGINT) AS v,
             CAST(ts AS DATE)
               - (SELECT MIN(CAST(ts AS DATE)) FROM events)
               < {_CUPED_PRE_DAYS} AS pre
      FROM events
    ),
    users AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN pre THEN v ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN pre THEN 0 ELSE v END) AS BIGINT) AS y,
             {duck_split_bucket('user_id', 2)} AS arm
      FROM base GROUP BY user_id
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
             CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
             CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
      FROM users
    )
    SELECT n AS n_users, n_a, n_b,
           CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
                ELSE ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                           * 1000000) END AS BIGINT) AS theta_micro,
           CAST(ROUND((CAST(sy_a AS DOUBLE) / n_a
                       - CAST(sy_b AS DOUBLE) / n_b) * 1000) AS BIGINT)
             AS diff_micro,
           CAST(CASE WHEN n * sxx - sx * sx = 0
                THEN ROUND((CAST(sy_a AS DOUBLE) / n_a
                            - CAST(sy_b AS DOUBLE) / n_b) * 1000)
                ELSE ROUND((CAST(sy_a AS DOUBLE) / n_a
                            - CAST(sy_b AS DOUBLE) / n_b
                            - (CAST(n AS DOUBLE) * sxy
                               - CAST(sx AS DOUBLE) * sy)
                              / (CAST(n AS DOUBLE) * sxx
                                 - CAST(sx AS DOUBLE) * sx)
                              * (CAST(sx_a AS DOUBLE) / n_a
                                 - CAST(sx_b AS DOUBLE) / n_b)) * 1000)
                END AS BIGINT) AS adj_diff_micro,
           CAST(CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                THEN 0
                ELSE ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                           * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                           / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                              * (CAST(n AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * sy))
                           * 1000) END AS BIGINT) AS var_reduction_permille
    FROM t
    """,
    tags=("streaming", "events", "stats"),
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED readout for the registry's hash-split A/B experiment: the
    pooled θ (micro), the raw and CUPED-adjusted arm mean differences of
    post-period user value (micro, value units), and the achievable
    variance reduction ρ²(X,Y) (permille). Every moment is an exact
    integer sum of milli-fixed-point values; each reported number is one
    double expression over those sums rounded once. Plan: one user-keyed
    conditional aggregate (events touched once), then a 1-row moment
    rollup — nothing after the first groupBy exceeds the user dimension.
    The 15-day pre-period anchors to the corpus' first event day (one
    broadcast scalar), so the split is reproducible at any sf."""
    from ..operators.curation import split_bucket

    ev = load_tables(spark, sf_dir, "events").events
    first_day = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    base = ev.crossJoin(F.broadcast(first_day)).select(
        "user_id",
        F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("v"),
        (F.datediff(F.to_date("ts"), F.col("d0")) < _CUPED_PRE_DAYS).alias(
            "pre"
        ),
    )
    users = (
        base.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("pre"), F.col("v")).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("pre"), 0).otherwise(F.col("v")))
            .cast("long")
            .alias("y"),
        )
        .withColumn("arm", split_bucket("user_id", 2))
    )
    t = users.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy_b"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov_n = nd * F.col("sxy") - sxd * F.col("sy")
    varx_n = nd * F.col("sxx") - sxd * F.col("sx")
    vary_n = nd * F.col("syy") - syd * F.col("sy")
    theta = cov_n / varx_n
    dy = (
        F.col("sy_a").cast("double") / F.col("n_a")
        - F.col("sy_b").cast("double") / F.col("n_b")
    )
    dx = (
        F.col("sx_a").cast("double") / F.col("n_a")
        - F.col("sx_b").cast("double") / F.col("n_b")
    )
    degenerate_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") == 0
    degenerate_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") == 0
    return t.select(
        F.col("n").alias("n_users"),
        "n_a",
        "n_b",
        F.when(degenerate_x, F.lit(0))
        .otherwise(F.round(theta * 1_000_000))
        .cast("long")
        .alias("theta_micro"),
        F.round(dy * 1000).cast("long").alias("diff_micro"),
        F.when(degenerate_x, F.round(dy * 1000))
        .otherwise(F.round((dy - theta * dx) * 1000))
        .cast("long")
        .alias("adj_diff_micro"),
        F.when(degenerate_x | degenerate_y, F.lit(0))
        .otherwise(F.round(cov_n * cov_n / (varx_n * vary_n) * 1000))
        .cast("long")
        .alias("var_reduction_permille"),
    )


# Poisson bootstrap confidence interval (Efron's bootstrap in the
# streaming-friendly form: Oza & Russell 2001's online bagging;
# Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
# Google TR 2012): instead of resampling n-out-of-n (which needs a
# global pass per replicate), every row independently receives a
# Poisson(1) weight per replicate — the ONLY bootstrap that
# map-side-aggregates at 100 TB. Weights are deterministic and cheap:
# ONE portable char-fold md5 hash per EVENT (not per replicate — the
# per-replicate fold measured 26 s at sf0.1), then per-replicate
# uniforms u_r = cube((h_base + (r+1)·2654435761) mod p) mod p where
# cube(x) = x³ mod p is a PERMUTATION of [0, p) because
# gcd(3, p-1) = 1 for p = 1e9+7 (Fermat) — the nonlinearity kills the
# affine-in-r lattice a multiply-add derivation alone would leave.
# Poisson(1) inverse-CDF thresholds are import-time integer literals
# scaled to p (tail capped at w=8, P ~ 1e-5, documented). Every
# replicate sum is an exact integer; each replicate mean is ONE double
# division, micro-rounded; the CI is an order statistic over the R
# replicate means (rank 2 and rank R-1 at R=40 — the floor(0.025R)+1
# convention, stated, not interpolated).
_BOOT_R = 40


#: floor(MOD * P(Poisson(1) <= k)) for k = 0..7; weight = #thresholds
#: the hash clears (so P(w=k) is exact to 1/MOD).
_BOOT_T = (367879443, 735758887, 919698609, 981011849,
           996340160, 999405822, 999916765, 999989757)


_BOOT_LO = 2          # floor(0.025 * 40) + 1


_BOOT_HI = _BOOT_R - 1  # 40 - floor(0.025 * 40)


_BOOT_MOD = 1_000_000_007


_BOOT_STEP = 2_654_435_761


def _build_boot_oracle() -> str:
    from ..operators.text import duck_char_fold

    hb = duck_char_fold("md5(CAST(event_id AS VARCHAR))")
    w = " + ".join(f"(CASE WHEN h >= {t} THEN 1 ELSE 0 END)" for t in _BOOT_T)
    return f"""
    WITH ev AS MATERIALIZED (
      SELECT {hb} AS hb, CAST(ROUND(value * 1000, 0) AS BIGINT) AS v
      FROM events
    ),
    reps AS (SELECT unnest(generate_series(0, {_BOOT_R - 1})) AS r),
    hashed AS (
      SELECT r, v,
             ((u * u) % {_BOOT_MOD}) * u % {_BOOT_MOD} AS h
      FROM (SELECT r, v,
                   (hb + (r + 1) * {_BOOT_STEP}) % {_BOOT_MOD} AS u
            FROM ev CROSS JOIN reps)
    ),
    weighted AS (
      SELECT r, v, CAST({w} AS BIGINT) AS w FROM hashed
    ),
    per_rep AS (
      SELECT r, CAST(SUM(w * v) AS BIGINT) AS num,
             CAST(SUM(w) AS BIGINT) AS den
      FROM weighted GROUP BY r
    ),
    means AS (
      SELECT r,
             CAST(CASE WHEN den = 0 THEN 0
                  ELSE ROUND(1000.0 * num / den) END AS BIGINT) AS m
      FROM per_rep
    ),
    ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m, r) AS rn FROM means
    ),
    pt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(ROUND(1000.0 * SUM(v) / COUNT(*)) AS BIGINT) AS point_micro
      FROM ev
    )
    SELECT pt.n_events, CAST({_BOOT_R} AS BIGINT) AS n_replicates,
           pt.point_micro,
           (SELECT m FROM ranked WHERE rn = {_BOOT_LO}) AS ci_lo_micro,
           (SELECT m FROM ranked WHERE rn = {_BOOT_HI}) AS ci_hi_micro,
           (SELECT m FROM ranked WHERE rn = {_BOOT_HI})
             - (SELECT m FROM ranked WHERE rn = {_BOOT_LO}) AS width_micro
    FROM pt
    """


@query(
    "events_poisson_bootstrap_ci",
    oracle=_build_boot_oracle(),
    tags=("streaming", "events", "stats"),
)
def events_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap CI for the mean event value: 40
    deterministic hash-weighted replicates, each an exact-integer
    (Sum w·v, Sum w) pair, one micro-rounded division per replicate,
    order-statistic CI (ranks 2 and 39). Plan: the replicate axis is a
    JVM-side sequence explode (no shuffle to fan out); everything
    aggregates map-side into a 40-row relation — the reason Poisson
    bootstrap is THE bootstrap that survives 100 TB."""
    from ..operators.text import char_fold_hash

    ev = load_tables(spark, sf_dir, "events").events.select(
        char_fold_hash(F.md5(F.col("event_id").cast("string"))).alias("hb"),
        F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("v"),
    )
    u = (F.col("hb") + (F.col("r") + 1) * F.lit(_BOOT_STEP)) % _BOOT_MOD
    rep = ev.select(
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R - 1))).alias("r"),
        F.col("hb"),
    ).select(
        "v",
        "r",
        (((u * u) % _BOOT_MOD) * u % _BOOT_MOD).alias("h"),
    )
    w = None
    for t_ in _BOOT_T:
        term = F.when(F.col("h") >= t_, 1).otherwise(0)
        w = term if w is None else w + term
    per_rep = (
        rep.select("r", "v", w.cast("long").alias("w"))
        .groupBy("r")
        .agg(
            F.sum(F.col("w") * F.col("v")).cast("long").alias("num"),
            F.sum("w").cast("long").alias("den"),
        )
    )
    means = per_rep.select(
        "r",
        F.when(F.col("den") == 0, F.lit(0))
        .otherwise(F.round(F.lit(1000.0) * F.col("num") / F.col("den")))
        .cast("long")
        .alias("m"),
    )
    ranked = means.select(
        "m", F.row_number().over(Window.orderBy("m", "r")).alias("rn")
    )
    ci = ranked.agg(
        F.max(F.when(F.col("rn") == _BOOT_LO, F.col("m"))).alias("lo"),
        F.max(F.when(F.col("rn") == _BOOT_HI, F.col("m"))).alias("hi"),
    )
    pt = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.lit(1000.0) * F.sum("v") / F.count(F.lit(1)))
        .cast("long")
        .alias("point_micro"),
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        "n_events",
        F.lit(_BOOT_R).cast("long").alias("n_replicates"),
        "point_micro",
        F.col("lo").cast("long").alias("ci_lo_micro"),
        F.col("hi").cast("long").alias("ci_hi_micro"),
        (F.col("hi") - F.col("lo")).cast("long").alias("width_micro"),
    )


# Weekend odds ratio for error events (case-control 2x2; odds ratio per
# Cornfield, JNCI 1951; the log-OR standard error per Woolf, Ann. Hum.
# Genet. 1955): are errors relatively MORE likely on weekends, after
# conditioning out overall weekend traffic? Cells are exact counts
# (a = weekend errors, b = weekend non-errors, c = weekday errors,
# d = weekday non-errors), OR_milli = 1000·a·d // (b·c) is EXACT
# integer (products in DECIMAL(38,0)/HUGEINT), and the Woolf z =
# ln(OR)/sqrt(1/a + 1/b + 1/c + 1/d) is the ONE float (half-up milli).
# Weekend = Spark dayofweek ∈ {1, 7} == DuckDB dayofweek+1 ∈ {1, 7}
# (the events-table weekday convention).
@query(
    "events_weekend_error_odds",
    oracle="""
    WITH flags AS (
      SELECT (dayofweek(CAST(ts AS DATE)) + 1) IN (1, 7) AS weekend,
             event_type = 'error' AS is_err
      FROM events
    ),
    cells AS (
      SELECT CAST(SUM(CASE WHEN weekend AND is_err THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN weekend AND NOT is_err THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(SUM(CASE WHEN NOT weekend AND is_err THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(SUM(CASE WHEN NOT weekend AND NOT is_err THEN 1 ELSE 0
                      END) AS BIGINT) AS d
      FROM flags
    )
    SELECT a AS n_weekend_err, b AS n_weekend_other,
           c AS n_weekday_err, d AS n_weekday_other,
           CAST(CASE WHEN b = 0 OR c = 0 THEN 0
                ELSE 1000 * CAST(a AS HUGEINT) * d
                     // (CAST(b AS HUGEINT) * c) END AS BIGINT)
             AS odds_ratio_milli,
           CAST(CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN 0
                ELSE FLOOR(1000.0 * ln((CAST(a AS DOUBLE) * d)
                                       / (CAST(b AS DOUBLE) * c))
                     / sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d) + 0.5)
                END AS BIGINT) AS woolf_z_milli
    FROM cells
    """,
    tags=("streaming", "events", "stats"),
)
def events_weekend_error_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend-vs-weekday error odds ratio (milli, exact integer) with
    Woolf's log-OR z (milli; one ln + one sqrt float, half-up). One
    scan, one scalar aggregate — the 2x2 never shuffles data."""

    ev = load_tables(spark, sf_dir, "events").events
    weekend = F.dayofweek(F.to_date("ts")).isin(1, 7)
    is_err = F.col("event_type") == "error"
    cells = ev.agg(
        F.sum(F.when(weekend & is_err, 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(weekend & ~is_err, 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(~weekend & is_err, 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(~weekend & ~is_err, 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    a, b, c, d = (F.col(x) for x in "abcd")
    orr = idiv_col(
        a.cast("decimal(38,0)") * d, b.cast("decimal(38,0)") * c, scale=1000
    )
    z = F.floor(
        F.lit(1000.0)
        * F.log(
            (a.cast("double") * d.cast("double"))
            / (b.cast("double") * c.cast("double"))
        )
        / F.sqrt(
            F.lit(1.0) / a + F.lit(1.0) / b + F.lit(1.0) / c + F.lit(1.0) / d
        )
        + F.lit(0.5)
    ).cast("long")
    return cells.select(
        a.alias("n_weekend_err"),
        b.alias("n_weekend_other"),
        c.alias("n_weekday_err"),
        d.alias("n_weekday_other"),
        F.when((b == 0) | (c == 0), F.lit(0))
        .otherwise(orr)
        .cast("long")
        .alias("odds_ratio_milli"),
        F.when((a == 0) | (b == 0) | (c == 0) | (d == 0), F.lit(0))
        .otherwise(z)
        .cast("long")
        .alias("woolf_z_milli"),
    )


# Welch's unequal-variance t (Welch, Biometrika 1947; the recommended
# default over Student's t — Ruxton 2006) for weekend vs weekday daily
# event volume: the parametric sibling of the Mann-Whitney wave, same
# two groups, so location evidence can be read under both lenses. The
# six sufficient statistics (n, Σx, Σx²) per group are exact integers;
# t and the Welch-Satterthwaite df are ONE fixed-order float expression
# over them, milli-rounded half-up.
@query(
    "events_welch_ttest_weekend",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    g AS (
      SELECT (dayofweek(day) + 1) IN (1, 7) AS weekend, x FROM daily
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN weekend THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN weekend THEN x ELSE 0 END) AS BIGINT)
               AS s1,
             CAST(SUM(CASE WHEN weekend THEN x * x ELSE 0 END) AS BIGINT)
               AS q1,
             CAST(SUM(CASE WHEN weekend THEN 0 ELSE 1 END) AS BIGINT)
               AS n2,
             CAST(SUM(CASE WHEN weekend THEN 0 ELSE x END) AS BIGINT)
               AS s2,
             CAST(SUM(CASE WHEN weekend THEN 0 ELSE x * x END) AS BIGINT)
               AS q2
      FROM g
    )
    SELECT n1 AS n_weekend, n2 AS n_weekday,
           CAST(FLOOR(1000.0 * (CAST(s1 AS DOUBLE) / n1
                                - CAST(s2 AS DOUBLE) / n2) + 0.5)
                AS BIGINT) AS mean_diff_milli,
           CAST(FLOOR(1000.0
                * ((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                   / sqrt((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1
                           / n1) / (n1 - 1) / n1
                          + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2
                             / n2) / (n2 - 1) / n2)) + 0.5) AS BIGINT)
             AS t_milli,
           CAST(FLOOR(1000.0
                * (((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                    / (n1 - 1) / n1
                    + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                      / (n2 - 1) / n2)
                   * ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                      / (n1 - 1) / n1
                      + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2
                         / n2) / (n2 - 1) / n2)
                   / (((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1
                        / n1) / (n1 - 1) / n1)
                      * ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1
                          / n1) / (n1 - 1) / n1) / (n1 - 1)
                      + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2
                          / n2) / (n2 - 1) / n2)
                        * ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2
                            / n2) / (n2 - 1) / n2) / (n2 - 1))) + 0.5)
                AS BIGINT) AS welch_df_milli
    FROM agg
    """,
    tags=("llm", "events", "stats"),
)
def events_welch_ttest_weekend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Welch t (milli) and Welch-Satterthwaite df (milli) for weekend vs
    weekday daily event counts. One day-keyed aggregate then one 6-int
    reduction; the float finish is a single fixed-order expression."""
    daily = (
        load_tables(spark, sf_dir, "events")
        .events.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    g = daily.select(
        F.dayofweek("day").isin(1, 7).alias("weekend"), "x"
    )
    agg = g.agg(
        F.sum(F.when(F.col("weekend"), 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("weekend"), F.col("x")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(
            F.when(F.col("weekend"), F.col("x") * F.col("x")).otherwise(0)
        )
        .cast("long")
        .alias("q1"),
        F.sum(F.when(F.col("weekend"), 0).otherwise(1))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("weekend"), F.lit(0)).otherwise(F.col("x")))
        .cast("long")
        .alias("s2"),
        F.sum(
            F.when(F.col("weekend"), F.lit(0)).otherwise(
                F.col("x") * F.col("x")
            )
        )
        .cast("long")
        .alias("q2"),
    )
    n1, s1, q1 = (F.col(c) for c in ("n1", "s1", "q1"))
    n2, s2, q2 = (F.col(c) for c in ("n2", "s2", "q2"))
    se1 = (
        (q1.cast("double") - s1.cast("double") * s1 / n1)
        / (n1 - 1)
        / n1
    )
    se2 = (
        (q2.cast("double") - s2.cast("double") * s2 / n2)
        / (n2 - 1)
        / n2
    )
    md = s1.cast("double") / n1 - s2.cast("double") / n2
    t = md / F.sqrt(se1 + se2)
    df = (se1 + se2) * (se1 + se2) / (
        se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)
    )

    def _milli(c, alias):
        return (
            F.floor(F.lit(1000.0) * c + F.lit(0.5)).cast("long").alias(alias)
        )

    return agg.select(
        n1.alias("n_weekend"),
        n2.alias("n_weekday"),
        _milli(md, "mean_diff_milli"),
        _milli(t, "t_milli"),
        _milli(df, "welch_df_milli"),
    )
