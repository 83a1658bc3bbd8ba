"""Rank, survival and goodness-of-fit tests over the events table:
Mann-Kendall, KS uniformity, Kaplan-Meier, runs, ANOVA, dispersion,
log-rank and Kruskal-Wallis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .registry import query


# Mann-Kendall + Sen. Day-pair relations are dimension-bounded (the
# fixture spans 30 days → 435 pairs per event type; a year is 66k pairs
# — never event-grain). S and 18·Var(S) stay exact integers (the tie
# correction subtracts Σ t(t-1)(2t+5) over tied daily-count values);
# z = (S∓1)/√(Var) is the single milli-rounded float. Sen's slope is
# the LOWER median of the 435 pairwise slopes (c_j-c_i)/(d_j-d_i) —
# picking an order statistic instead of averaging the middle two keeps
# the reported value an actually-attained slope; each pair's slope is
# milli-rounded once (one float per pair, same IEEE divide both
# engines), then the order statistic is exact with a (slope, gap, day)
# tie-break.
@query(
    "events_mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    n AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type,
             CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1
                  ELSE 0 END AS sgn,
             CAST(ROUND(1000.0 * (b.c - a.c)
                        / (b.day - a.day)) AS BIGINT) AS slope_milli,
             CAST(b.day - a.day AS BIGINT) AS gap,
             a.day AS day_a
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
    ),
    s AS (
      SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s_stat,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY 1
    ),
    ties AS (
      SELECT event_type,
             CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
      FROM (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
        FROM daily GROUP BY event_type, c
      ) GROUP BY 1
    ),
    sen AS (
      SELECT event_type, slope_milli AS sen_slope_milli
      FROM (
        SELECT event_type, slope_milli,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY slope_milli, gap, day_a) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS np
        FROM pairs
      ) WHERE rn = (np + 1) // 2
    )
    SELECT n.event_type, n.n_days, s.s_stat,
           CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                - ties.tie18 AS BIGINT) AS var18,
           CAST(CASE WHEN s.s_stat = 0 OR
                     n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                       - ties.tie18 = 0 THEN 0
                ELSE ROUND((s.s_stat - CASE WHEN s.s_stat > 0 THEN 1
                                            ELSE -1 END)
                     / SQRT((n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                             - ties.tie18) / 18.0) * 1000)
                END AS BIGINT) AS z_milli,
           sen.sen_slope_milli
    FROM n JOIN s USING (event_type) JOIN ties USING (event_type)
    JOIN sen USING (event_type)
    ORDER BY event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone-trend screen per event type over daily ingest counts:
    exact-integer Mann-Kendall S and tie-corrected 18·Var(S), the
    continuity-corrected z (milli, the one float), and Sen's slope as
    the lower-median pairwise slope in events/day (milli). Plan: one
    daily rollup (event-grain touched once, cached day-dimension-sized),
    then every further relation — pairs, ties, medians — lives on the
    day dimension."""
    out, daily = _mann_kendall_frame(spark, sf_dir)
    out = out.localCheckpoint(eager=True)
    daily.unpersist()
    return out


def _mann_kendall_frame(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(result, cached daily rollup) pre-checkpoint — split out so the
    plan pins can inspect the real DAG (the registered query checkpoints
    to release the cache, which hides the plan)."""
    ev = load_tables(spark, sf_dir, "events").events
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .cache()
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.when(F.col("b.c") > F.col("a.c"), 1)
        .when(F.col("b.c") < F.col("a.c"), -1)
        .otherwise(0)
        .alias("sgn"),
        F.round(
            F.lit(1000.0)
            * (F.col("b.c") - F.col("a.c"))
            / F.datediff(F.col("b.day"), F.col("a.day"))
        )
        .cast("long")
        .alias("slope_milli"),
        F.datediff(F.col("b.day"), F.col("a.day")).cast("long").alias("gap"),
        F.col("a.day").alias("day_a"),
    )
    n = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    s = pairs.groupBy("event_type").agg(
        F.sum("sgn").cast("long").alias("s_stat")
    )
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie18")
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope_milli", "gap", "day_a")
    wc = Window.partitionBy("event_type")
    sen = (
        pairs.select(
            "event_type",
            "slope_milli",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("np"),
        )
        .filter(F.col("rn") == F.floor((F.col("np") + 1) / 2))
        .select("event_type", F.col("slope_milli").alias("sen_slope_milli"))
    )
    var18 = (
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.col("tie18")
    ).cast("long")
    out = (
        n.join(s, "event_type")
        .join(ties, "event_type")
        .join(sen, "event_type")
        .select(
            "event_type",
            "n_days",
            "s_stat",
            var18.alias("var18"),
            F.when((F.col("s_stat") == 0) | (var18 == 0), F.lit(0))
            .otherwise(
                F.round(
                    (
                        F.col("s_stat")
                        - F.when(F.col("s_stat") > 0, 1).otherwise(-1)
                    )
                    / F.sqrt(var18 / F.lit(18.0))
                    * 1000
                )
            )
            .cast("long")
            .alias("z_milli"),
            "sen_slope_milli",
        )
        .orderBy("event_type")
    )
    return out, daily


# One-sample Kolmogorov-Smirnov uniformity test of event ARRIVAL TIMES
# per type (Kolmogorov 1933; the monitoring question is "did events
# arrive steadily over the window, or in bursts/drains?" — the
# one-sample companion to the two-sample KS of wave 20). Against the
# U[t_first, t_last] null, the supremum needs only the sample's own
# jump points, and with u_i = (t_i - t0)/(T - t0) every comparison
# clears denominators into integers:
#     D·n·(T-t0) = max_i max( i·(T-t0) − n·(t_i−t0),
#                             n·(t_i−t0) − (i−1)·(T-t0) )
# — exact numerators carried in DECIMAL(38,0)/HUGEINT (n·span_us is
# ~5e16 at sf0.1 already, and the 1000× milli scaling would wrap BIGINT
# whenever D > ~0.17 — the r9 ADVICE catch), one final exact scaled
# division for D, and z = √n·D as the single milli-rounded float.
@query(
    "events_arrival_uniformity_ks",
    oracle="""
    WITH seq AS (
      SELECT event_type, epoch_us(ts) AS tus,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id) AS BIGINT) AS i,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             MIN(epoch_us(ts)) OVER (PARTITION BY event_type) AS t0,
             MAX(epoch_us(ts)) OVER (PARTITION BY event_type) AS t1
      FROM events
    ),
    per AS (
      SELECT event_type, n, t1 - t0 AS span_us,
             MAX(GREATEST(
               CAST(i AS HUGEINT) * (t1 - t0) - CAST(n AS HUGEINT) * (tus - t0),
               CAST(n AS HUGEINT) * (tus - t0) - CAST(i - 1 AS HUGEINT) * (t1 - t0)
             )) AS d_num
      FROM seq GROUP BY event_type, n, t1 - t0
    )
    SELECT event_type, n, span_us,
           CAST(1000 * d_num // (CAST(n AS HUGEINT) * span_us) AS BIGINT)
             AS d_milli,
           CAST(ROUND(SQRT(CAST(n AS DOUBLE)) * CAST(d_num AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * span_us AS DOUBLE)
                      * 1000) AS BIGINT) AS z_milli
    FROM per ORDER BY event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_arrival_uniformity_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample KS statistic of arrival-time uniformity per event
    type: D (milli) from exact-integer ECDF extremes against the
    uniform null over [first, last] arrival, and z = √n·D (milli, the
    one float). Large D = bursty or draining ingest. One keyed rank
    window over the same sort, then a keyed integer max."""
    ev = load_tables(spark, sf_dir, "events").events
    wp = Window.partitionBy("event_type")
    w = wp.orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.unix_micros("ts").alias("tus"),
        F.row_number().over(w).cast("long").alias("i"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
        F.min(F.unix_micros("ts")).over(wp).alias("t0"),
        F.max(F.unix_micros("ts")).over(wp).alias("t1"),
    )
    # Numerators in DECIMAL(38,0)/HUGEINT end-to-end (r9 ADVICE): i·span
    # and n·rel are bounded only by n·span_us (~5.3e16 at sf0.1, past
    # 2^63 at ~170× that), and the 1000× fixed-point scaling of d_num
    # pushed the old BIGINT form over the edge at D > ~0.17 — Spark
    # (ANSI off) wrapped silently while DuckDB errored. Decimal max is
    # exact; d_num stays decimal until the one double (z) and the exact
    # scaled division (d_milli, scale inside idiv_col's decimal space).
    span = (F.col("t1") - F.col("t0")).cast("decimal(38,0)")
    rel = (F.col("tus") - F.col("t0")).cast("decimal(38,0)")
    i_d = F.col("i").cast("decimal(38,0)")
    n_d = F.col("n").cast("decimal(38,0)")
    span_l = F.col("t1") - F.col("t0")
    d_plus = i_d * span - n_d * rel
    d_minus = n_d * rel - (i_d - F.lit(1)) * span
    per = seq.groupBy(
        "event_type", "n", span_l.alias("span_us")
    ).agg(F.max(F.greatest(d_plus, d_minus)).alias("d_num"))
    denom = F.col("n").cast("decimal(38,0)") * F.col("span_us").cast(
        "decimal(38,0)"
    )
    return per.select(
        "event_type",
        "n",
        "span_us",
        idiv_col(F.col("d_num"), denom, scale=1000).alias("d_milli"),
        F.round(
            F.sqrt(F.col("n").cast("double"))
            * F.col("d_num").cast("double")
            / denom.cast("double")
            * 1000
        )
        .cast("long")
        .alias("z_milli"),
    ).orderBy("event_type")


# Kaplan-Meier survival of INTER-EVENT gaps (Kaplan & Meier, JASA 1958
# — the product-limit estimator): "a user just acted; how long until
# they act again?" — the session-gap curve behind engagement and
# timeout decisions. Durations are the hour-bucketed gaps between a
# user's consecutive events; each user's FINAL gap is right-censored at
# the corpus horizon (no next event was observed — textbook censoring,
# not a heuristic; on this fixture every user is active at the window
# end, so user-LIFETIME survival would be 100%-censored and vacuous —
# measured, which is why the subject is the gap). Risk sets and event
# counts are hour-dimension integer aggregates; the only floats are the
# per-step ln((n-d)/n) micro-rounded BEFORE the cumulative sum, and the
# final exp back to milli survival — identical doubles in both engines.
# A step that exhausts the risk set (d = n: the largest duration is an
# observed gap) clamps its log term to the stated sentinel and reports
# surv_milli = 0 from there on.
_KM_SENTINEL = -(10**9)


@query(
    "events_kaplan_meier_gaps",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, epoch_us(ts) AS us,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    horizon AS (SELECT MAX(epoch_us(ts)) AS h FROM events),
    dur AS (
      SELECT CASE WHEN nxt IS NULL
               THEN (SELECT h FROM horizon) - us
               ELSE nxt - us END // 3600000000 AS t,
             (nxt IS NOT NULL) AS observed
      FROM seq
    ),
    risk AS (
      SELECT CAST(t AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n_here,
             CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM dur GROUP BY t
    ),
    curve AS (
      SELECT t, d AS n_events,
             CAST(SUM(n_here) OVER (ORDER BY t DESC) AS BIGINT) AS n_risk
      FROM risk
    ),
    terms AS (
      SELECT t, n_events, n_risk,
             CASE WHEN n_events < n_risk THEN
               CAST(ROUND(ln(CAST(n_risk - n_events AS DOUBLE) / n_risk)
                          * 1000000) AS BIGINT)
             ELSE CAST({_KM_SENTINEL} AS BIGINT) END AS term_micro
      FROM curve WHERE n_events > 0
    ),
    km AS (
      SELECT t, n_risk, n_events,
             CAST(SUM(term_micro) OVER (ORDER BY t) AS BIGINT)
               AS log_surv_micro
      FROM terms
    )
    SELECT t AS t_hours, n_risk, n_events, log_surv_micro,
           CAST(CASE WHEN log_surv_micro <= {-(10**8)} THEN 0
                ELSE ROUND(exp(CAST(log_surv_micro AS DOUBLE) / 1000000)
                           * 1000) END AS BIGINT) AS surv_milli
    FROM km ORDER BY t_hours
    """,
    tags=("streaming", "events", "stats"),
)
def events_kaplan_meier_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival of hour-bucketed inter-event
    gaps, right-censoring each user's final open gap at the corpus
    horizon: per distinct gap length, the risk set, observed-gap count,
    integer log-survival (micro) and the milli survival probability.
    One per-user lead window, one hour-dimension reverse-cumulative
    window — gaps at any corpus volume collapse to the bounded hour
    dimension before anything nonlinear."""
    from pyspark.sql.window import Window


    ev = load_tables(spark, sf_dir, "events").events
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.unix_micros("ts").alias("us"),
        F.lead(F.unix_micros("ts")).over(w_u).alias("nxt"),
    )
    horizon = ev.agg(F.max(F.unix_micros("ts")).alias("h"))
    dur = seq.crossJoin(F.broadcast(horizon)).select(
        idiv_col(
            F.when(F.col("nxt").isNull(), F.col("h") - F.col("us")).otherwise(
                F.col("nxt") - F.col("us")
            ),
            F.lit(3600000000),
        ).alias("t"),
        F.col("nxt").isNotNull().alias("observed"),
    )
    risk = dur.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_here"),
        F.sum(F.when(F.col("observed"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    w_desc = Window.orderBy(F.desc("t")).rangeBetween(
        Window.unboundedPreceding, 0
    )
    curve = risk.select(
        "t",
        F.col("d").alias("n_events"),
        F.sum("n_here").over(w_desc).cast("long").alias("n_risk"),
    )
    terms = curve.filter(F.col("n_events") > 0).select(
        "t",
        "n_events",
        "n_risk",
        F.when(
            F.col("n_events") < F.col("n_risk"),
            F.round(
                F.log(
                    (F.col("n_risk") - F.col("n_events")).cast("double")
                    / F.col("n_risk")
                )
                * 1_000_000
            ).cast("long"),
        )
        .otherwise(F.lit(_KM_SENTINEL))
        .alias("term_micro"),
    )
    w_asc = Window.orderBy("t").rangeBetween(Window.unboundedPreceding, 0)
    km = terms.select(
        "t",
        "n_risk",
        "n_events",
        F.sum("term_micro").over(w_asc).cast("long").alias("log_surv_micro"),
    )
    return km.select(
        F.col("t").alias("t_hours"),
        "n_risk",
        "n_events",
        "log_surv_micro",
        F.when(F.col("log_surv_micro") <= -(10**8), F.lit(0))
        .otherwise(
            F.round(
                F.exp(F.col("log_surv_micro").cast("double") / 1_000_000)
                * 1000
            )
        )
        .cast("long")
        .alias("surv_milli"),
    ).orderBy("t_hours")


# Wald-Wolfowitz runs test of daily ingest randomness per event type
# (Wald & Wolfowitz, AoMS 1940): is the above/below-median sign
# sequence of daily counts random, or does it cluster (regimes) /
# alternate (oscillation)? R (the run count), n1/n2 and the sign rule
# (above = c > lower-median, ties below — stated) are exact integers;
# z = (R − E[R])/√Var is the single milli-rounded float from the
# closed-form moments.
@query(
    "events_runs_test_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, day, c,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY day) AS BIGINT) AS i,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY c, day) AS BIGINT) AS vr,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM daily
    ),
    med AS (
      SELECT event_type, c AS m FROM idx WHERE vr = (n + 1) // 2
    ),
    signs AS (
      SELECT i.event_type, i.i, i.n, (i.c > med.m) AS up
      FROM idx i JOIN med ON med.event_type = i.event_type
    ),
    runs AS (
      SELECT event_type, n,
             CAST(1 + SUM(CASE WHEN up <> prev_up THEN 1 ELSE 0 END)
                  AS BIGINT) AS r,
             CAST(SUM(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM (
        SELECT event_type, n, up,
               LAG(up) OVER (PARTITION BY event_type ORDER BY i) AS prev_up
        FROM signs
      ) GROUP BY event_type, n
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days, n1,
           CAST(n - n1 AS BIGINT) AS n2, r AS n_runs,
           CAST(CASE WHEN n1 = 0 OR n - n1 = 0 THEN 0
                ELSE ROUND(1000 *
                  (r - (1.0 + 2.0 * n1 * (n - n1) / n))
                  / sqrt(2.0 * n1 * (n - n1)
                         * (2.0 * n1 * (n - n1) - n)
                         / (CAST(n AS DOUBLE) * n * (n - 1))))
                END AS BIGINT) AS z_milli
    FROM runs ORDER BY event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs test per event type over the above/below-median sign
    sequence of daily counts: run count, sign balance, and the
    closed-form z (milli) — regimes show as too FEW runs, oscillation
    as too many. Day-dimension windows only; one float."""
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, "events").events
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    wp = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "day",
        "c",
        F.row_number().over(wp.orderBy("day")).cast("long").alias("i"),
        F.row_number().over(wp.orderBy("c", "day")).cast("long").alias("vr"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    )
    med = idx.filter(
        F.col("vr") == F.floor((F.col("n") + 1) / 2)
    ).select("event_type", F.col("c").alias("m"))
    signs = idx.join(med, "event_type").select(
        "event_type", "i", "n", (F.col("c") > F.col("m")).alias("up")
    )
    lagged = signs.select(
        "event_type",
        "n",
        "up",
        F.lag("up").over(wp.orderBy("i")).alias("prev_up"),
    )
    runs = lagged.groupBy("event_type", "n").agg(
        (
            F.lit(1)
            + F.sum(
                F.when(F.col("up") != F.col("prev_up"), 1).otherwise(0)
            )
        )
        .cast("long")
        .alias("r"),
        F.sum(F.when(F.col("up"), 1).otherwise(0)).cast("long").alias("n1"),
    )
    n, n1, r = F.col("n"), F.col("n1"), F.col("r")
    n2 = n - n1
    e_r = F.lit(1.0) + F.lit(2.0) * n1 * n2 / n
    var = (
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - n)
        / (n.cast("double") * n * (n - 1))
    )
    return runs.select(
        "event_type",
        n.cast("long").alias("n_days"),
        "n1",
        n2.cast("long").alias("n2"),
        r.alias("n_runs"),
        F.when((n1 == 0) | (n2 == 0), F.lit(0))
        .otherwise(F.round(F.lit(1000) * (r - e_r) / F.sqrt(var)))
        .cast("long")
        .alias("z_milli"),
    ).orderBy("event_type")


# One-way ANOVA of daily counts across weekday groups (Fisher 1925 —
# the F-test): is there a weekly seasonality SIGNAL in the per-type
# daily series, judged parametrically beside the nonparametric runs
# test and the ACF's lag-7 row? Group sums clear the means: with
# group j of size n_j, sum S_j, grand sum S over n days,
#     SSB·n·Πdenoms and SSW stay rationals — we carry
#     ssb_num = Σ_j (n·S_j − n_j·S)² / (n·n_j)   (scaled integers)
# exactly per group via idiv_col (truncated per group, stated), and
# SSW = Σ (n_j·c − S_j)² / n_j likewise. F_milli is the single
# rounded float from the two integer sums and the degrees of freedom.
@query(
    "events_weekday_anova",
    oracle="""
    WITH daily AS (
      -- wd is GROUPING-ONLY (never surfaced): dayofweek(...)+1 maps
      -- DuckDB's Sun=0..6 onto Spark's Sun=1..7 — the llm_ops8
      -- convention — so the label spaces match if wd ever surfaces.
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS wd,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    g AS (
      SELECT event_type, wd, CAST(COUNT(*) AS BIGINT) AS nj,
             CAST(SUM(c) AS BIGINT) AS sj
      FROM daily GROUP BY event_type, wd
    ),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s,
             CAST(COUNT(DISTINCT wd) AS BIGINT) AS k
      FROM daily GROUP BY event_type
    ),
    ssb AS (
      SELECT g.event_type,
             CAST(SUM((CAST(tot.n AS HUGEINT) * g.sj - g.nj * tot.s)
                      * (CAST(tot.n AS HUGEINT) * g.sj - g.nj * tot.s)
                      // (CAST(tot.n AS HUGEINT) * tot.n * g.nj))
                  AS BIGINT) AS ssb_i
      FROM g JOIN tot ON tot.event_type = g.event_type
      GROUP BY g.event_type
    ),
    ssw AS (
      SELECT d.event_type,
             CAST(SUM((CAST(g.nj AS HUGEINT) * d.c - g.sj)
                      * (CAST(g.nj AS HUGEINT) * d.c - g.sj)
                      // (CAST(g.nj AS HUGEINT) * g.nj))
                  AS BIGINT) AS ssw_i
      FROM daily d JOIN g ON g.event_type = d.event_type AND g.wd = d.wd
      GROUP BY d.event_type
    )
    SELECT tot.event_type, tot.n AS n_days, tot.k AS n_groups,
           ssb.ssb_i AS ssb_scaled, ssw.ssw_i AS ssw_scaled,
           CAST(CASE WHEN ssw.ssw_i = 0 OR tot.k <= 1 THEN -1
                ELSE ROUND(1000.0 * (CAST(ssb.ssb_i AS DOUBLE) / (tot.k - 1))
                           / (CAST(ssw.ssw_i AS DOUBLE) / (tot.n - tot.k)))
                END AS BIGINT) AS f_milli
    FROM tot JOIN ssb ON ssb.event_type = tot.event_type
    JOIN ssw ON ssw.event_type = tot.event_type
    ORDER BY tot.event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_weekday_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way weekday ANOVA per event type: integer-scaled
    between-group and within-group sums of squares (each group term an
    exact truncated integer — the ranking-statistic convention) and the
    F statistic (milli, the one float; -1 flags a degenerate
    denominator). Day-dimension keyed aggregates only."""

    ev = load_tables(spark, sf_dir, "events").events
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.dayofweek(F.to_date("ts")).cast("long").alias("wd"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    g = daily.groupBy("event_type", "wd").agg(
        F.count(F.lit(1)).cast("long").alias("nj"),
        F.sum("c").cast("long").alias("sj"),
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.countDistinct("wd").cast("long").alias("k"),
    )
    gb = g.join(tot, "event_type")
    bterm = (
        F.col("n").cast("decimal(38,0)") * F.col("sj")
        - F.col("nj").cast("decimal(38,0)") * F.col("s")
    )
    ssb = gb.select(
        "event_type",
        idiv_col(
            (bterm * bterm).cast("decimal(38,0)"),
            F.col("n").cast("decimal(38,0)") * F.col("n") * F.col("nj"),
        ).alias("t"),
    ).groupBy("event_type").agg(F.sum("t").cast("long").alias("ssb_i"))
    dw = daily.join(g, ["event_type", "wd"])
    wterm = (
        F.col("nj").cast("decimal(38,0)") * F.col("c")
        - F.col("sj").cast("decimal(38,0)")
    )
    ssw = dw.select(
        "event_type",
        idiv_col(
            (wterm * wterm).cast("decimal(38,0)"),
            F.col("nj").cast("decimal(38,0)") * F.col("nj"),
        ).alias("t"),
    ).groupBy("event_type").agg(F.sum("t").cast("long").alias("ssw_i"))
    return (
        tot.join(ssb, "event_type")
        .join(ssw, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.col("k").alias("n_groups"),
            F.col("ssb_i").alias("ssb_scaled"),
            F.col("ssw_i").alias("ssw_scaled"),
            F.when((F.col("ssw_i") == 0) | (F.col("k") <= 1), F.lit(-1))
            .otherwise(
                F.round(
                    F.lit(1000.0)
                    * (F.col("ssb_i").cast("double") / (F.col("k") - 1))
                    / (F.col("ssw_i").cast("double") / (F.col("n") - F.col("k")))
                )
            )
            .cast("long")
            .alias("f_milli"),
        )
        .orderBy("event_type")
    )


# Fisher's index of dispersion for the per-type daily-count series
# (Fisher, "Statistical Methods for Research Workers", 1925 §16; Cox &
# Lewis 1966): the chi-square statistic Σ(c − c̄)²/c̄ — under a
# homogeneous Poisson arrival process it is ~χ²_{n−1}, so VMR (the
# variance-to-mean ratio) far above 1 says over-dispersion (bursty
# days), far below says under-dispersion (throttled/uniform). The
# integer identity clears the mean: with n days, daily counts c, sum S,
#     chi2 = (n·Σc² − S²) / S        (exact; one truncated division)
#     VMR  = chi2 / (n − 1)
# Completes the arrival-process battery beside the inter-arrival KS
# (exponential gaps), runs test (sign randomness) and weekday ANOVA
# (seasonal mean shifts). n·Σc² rides DECIMAL(38,0)/HUGEINT.
@query(
    "events_dispersion_index",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    per AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(c) AS BIGINT) AS s,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days, s AS n_events,
           CAST(1000 * s // n_days AS BIGINT) AS mean_daily_milli,
           CAST(1000 * (CAST(n_days AS HUGEINT) * s2 - CAST(s AS HUGEINT)
                        * s) // s AS BIGINT) AS chi2_milli,
           CAST((1000 * (CAST(n_days AS HUGEINT) * s2 - CAST(s AS HUGEINT)
                         * s) // s) // (n_days - 1) AS BIGINT) AS vmr_milli
    FROM per ORDER BY event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (chi2, milli) and variance-to-mean ratio
    (milli) of daily counts per event type — exact integers with one
    truncated division (then a truncated halving into VMR, stated; the
    oracle performs the identical nested `//`). One daily rollup, one
    type rollup; products in DECIMAL(38,0)."""

    ev = load_tables(spark, sf_dir, "events").events
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    per = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    chi2 = idiv_col(
        F.col("n_days").cast("decimal(38,0)") * F.col("s2")
        - F.col("s").cast("decimal(38,0)") * F.col("s"),
        F.col("s"),
        scale=1000,
    )
    return per.select(
        "event_type",
        "n_days",
        F.col("s").alias("n_events"),
        idiv_col(F.col("s"), F.col("n_days"), scale=1000).alias(
            "mean_daily_milli"
        ),
        chi2.alias("chi2_milli"),
        idiv_col(chi2, F.col("n_days") - 1).alias("vmr_milli"),
    ).orderBy("event_type")


# Log-rank test between user cohorts (Mantel, Cancer Chemother. Rep.
# 1966; Peto & Peto, JRSS-A 1972): do HEAVY users (per-user event count
# above the lower median) wait a different time between events than
# LIGHT users? The survival subject is the inter-event gap, bucketed to
# MINUTES by design so the event-time grid is value-bounded (≤ 43k rows
# for a 30-day window) — at production scale the grid, not the corpus,
# sizes the risk-set window (the standard coarsening mitigation,
# stated). No censoring here (every gap completes inside the fixture
# window; the Kaplan-Meier wave owns the censored formulation), so
# O1 = the heavy cohort's gap count and the information is in O1 − E1.
# Per-time hypergeometric terms are micro-rounded integers
# (numerators in DECIMAL(38,0)/HUGEINT — n_j⁴-scale products pass 2^63
# at production counts); z is the ONE float:
#     z_milli = FLOOR((O1µ − E1µ) / sqrt(Vµ) + 0.5).
@query(
    "events_logrank_cohorts",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    med AS (
      SELECT c AS m FROM (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c, user_id) AS rn,
               COUNT(*) OVER () AS n
        FROM per_user
      ) WHERE rn = (n + 1) // 2
    ),
    gaps AS (
      SELECT CASE WHEN p.c > (SELECT m FROM med) THEN 1 ELSE 0 END AS grp,
             CAST((epoch_us(e.ts) - epoch_us(LAG(e.ts) OVER
                  (PARTITION BY e.user_id ORDER BY e.ts, e.event_id)))
                  // 60000000 AS BIGINT) AS t
      FROM events e JOIN per_user p ON p.user_id = e.user_id
      QUALIFY t IS NOT NULL
    ),
    times AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS dj,
             CAST(SUM(grp) AS BIGINT) AS d1j
      FROM gaps GROUP BY t
    ),
    risk AS (
      SELECT t, dj, d1j,
             CAST(SUM(dj) OVER (ORDER BY t DESC) AS BIGINT) AS nj,
             CAST(SUM(d1j) OVER (ORDER BY t DESC) AS BIGINT) AS n1j
      FROM times
    ),
    terms AS (
      SELECT dj, d1j, nj, n1j,
             CAST(1000000 * CAST(dj AS HUGEINT) * n1j // nj AS BIGINT)
               AS e1_micro,
             CAST(CASE WHEN nj > 1
                  THEN 1000000 * CAST(dj AS HUGEINT) * n1j * (nj - n1j)
                       * (nj - dj)
                       // (CAST(nj AS HUGEINT) * nj * (nj - 1))
                  ELSE 0 END AS BIGINT) AS v_micro
      FROM risk
    ),
    tot AS (
      SELECT CAST((SELECT COUNT(*) FROM per_user
                   WHERE c > (SELECT m FROM med)) AS BIGINT)
               AS n_users_heavy,
             CAST((SELECT COUNT(*) FROM per_user
                   WHERE c <= (SELECT m FROM med)) AS BIGINT)
               AS n_users_light,
             CAST(SUM(d1j) AS BIGINT) AS o1,
             CAST(SUM(dj - d1j) AS BIGINT) AS n_gaps_light,
             CAST(SUM(e1_micro) AS BIGINT) AS e1_micro,
             CAST(SUM(v_micro) AS BIGINT) AS v_micro
      FROM terms
    )
    SELECT n_users_heavy, n_users_light, o1 AS n_gaps_heavy,
           n_gaps_light, e1_micro, v_micro,
           CAST(CASE WHEN v_micro > 0
                THEN FLOOR((1000000.0 * o1 - e1_micro)
                           / sqrt(CAST(v_micro AS DOUBLE)) + 0.5)
                ELSE 0 END AS BIGINT) AS z_milli
    FROM tot
    """,
    tags=("streaming", "events", "stats"),
)
def events_logrank_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank z (milli; one float) comparing minute-bucketed
    inter-event gaps between heavy (count > lower-median) and light
    users. One per-user rollup, one lag window, one grid rollup, one
    reverse-cumulative risk window over the bounded minute grid, one
    scalar combine."""
    from pyspark.sql.window import Window


    ev = load_tables(spark, sf_dir, "events").events
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ranked = per_user.select(
        "user_id",
        "c",
        F.row_number()
        .over(Window.orderBy("c", "user_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select(F.col("c").alias("m"))
    gaps = (
        ev.join(per_user, "user_id")
        .crossJoin(F.broadcast(med))
        .select(
            F.when(F.col("c") > F.col("m"), 1).otherwise(0).alias("grp"),
            F.expr(
                "(unix_micros(ts) - unix_micros(lag(ts) OVER "
                "(PARTITION BY user_id ORDER BY ts, event_id))) "
                "div 60000000"
            ).alias("t"),
        )
        .filter(F.col("t").isNotNull())
        .select("grp", "t")
    )
    times = gaps.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("dj"),
        F.sum("grp").cast("long").alias("d1j"),
    )
    wd = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = times.select(
        "dj",
        "d1j",
        F.sum("dj").over(wd).cast("long").alias("nj"),
        F.sum("d1j").over(wd).cast("long").alias("n1j"),
    )
    dj_d = F.col("dj").cast("decimal(38,0)")
    nj_d = F.col("nj").cast("decimal(38,0)")
    terms = risk.select(
        "dj",
        "d1j",
        idiv_col(dj_d * F.col("n1j"), F.col("nj"), scale=1_000_000).alias(
            "e1_micro"
        ),
        F.when(
            F.col("nj") > 1,
            idiv_col(
                dj_d
                * F.col("n1j")
                * (F.col("nj") - F.col("n1j"))
                * (F.col("nj") - F.col("dj")),
                nj_d * F.col("nj") * (F.col("nj") - 1),
                scale=1_000_000,
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("v_micro"),
    )
    heavy = per_user.crossJoin(F.broadcast(med))
    cohorts = heavy.agg(
        F.sum(F.when(F.col("c") > F.col("m"), 1).otherwise(0))
        .cast("long")
        .alias("n_users_heavy"),
        F.sum(F.when(F.col("c") <= F.col("m"), 1).otherwise(0))
        .cast("long")
        .alias("n_users_light"),
    )
    tot = terms.agg(
        F.sum("d1j").cast("long").alias("o1"),
        F.sum(F.col("dj") - F.col("d1j")).cast("long").alias(
            "n_gaps_light"
        ),
        F.sum("e1_micro").cast("long").alias("e1_micro"),
        F.sum("v_micro").cast("long").alias("v_micro"),
    )
    return cohorts.crossJoin(F.broadcast(tot)).select(
        "n_users_heavy",
        "n_users_light",
        F.col("o1").alias("n_gaps_heavy"),
        "n_gaps_light",
        "e1_micro",
        "v_micro",
        F.when(
            F.col("v_micro") > 0,
            F.floor(
                (
                    F.lit(1_000_000.0) * F.col("o1")
                    - F.col("e1_micro")
                ).cast("double")
                / F.sqrt(F.col("v_micro").cast("double"))
                + F.lit(0.5)
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("z_milli"),
    )


# Kruskal-Wallis H across weekdays on daily event counts (Kruskal &
# Wallis, JASA 1952) — the rank-based one-way analysis completing the
# weekday family: ANOVA (parametric, r?) tests means, the runs test
# tests serial structure, KW tests LOCATION without normality. Doubled
# average ranks keep tie handling integer; each group's Σ R_i²/n_i term
# is micro-truncated INDIVIDUALLY (deterministic order-free integer
# sum), and the single float combine — 12/(N(N+1)) scaling, tie
# correction 1 − Σ(t³−t)/(N³−N) — runs once on exact integers in a
# fixed expression, then half-up milli-rounds.
@query(
    "events_kruskal_wallis_weekday",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    ranked AS (
      SELECT (dayofweek(day) + 1) AS wd, n_events,
             2 * RANK() OVER (ORDER BY n_events)
               + COUNT(*) OVER (PARTITION BY n_events) - 1 AS r2
      FROM daily
    ),
    grp AS (
      SELECT wd, CAST(COUNT(*) AS BIGINT) AS ni,
             CAST(SUM(r2) AS BIGINT) AS r2i
      FROM ranked GROUP BY wd
    ),
    terms AS (
      SELECT CAST(SUM(1000000 * (CAST(r2i AS HUGEINT) * r2i)
                      // (4 * ni)) AS BIGINT) AS s_micro,
             CAST(SUM(ni) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM grp
    ),
    ties AS (
      SELECT CAST(COALESCE(SUM(CAST(c AS HUGEINT) * c * c - c), 0)
                  AS BIGINT) AS t3
      FROM (SELECT COUNT(*) AS c FROM daily GROUP BY n_events) tg
    )
    SELECT t.n AS n_days, t.k AS n_groups,
           CAST(t.k - 1 AS BIGINT) AS dof, s.t3 AS tie_correction_t3,
           CAST(FLOOR(1000.0
                * ((12.0 * (CAST(t.s_micro AS DOUBLE) / 1000000.0)
                    / (CAST(t.n AS DOUBLE) * (t.n + 1.0))
                    - 3.0 * (t.n + 1.0))
                   / (1.0 - CAST(s.t3 AS DOUBLE)
                      / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n)))
                + 0.5) AS BIGINT) AS h_milli
    FROM terms t CROSS JOIN ties s
    """,
    tags=("llm", "events", "stats"),
)
def events_kruskal_wallis_weekday(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """H (milli, tie-corrected) for daily event counts grouped by
    weekday. Weekday convention: Spark ``dayofweek`` == DuckDB
    ``dayofweek + 1`` (the registered weekend-odds convention). One
    day-keyed aggregate (the only data-sized reduction), then
    everything is over ≤ |days| rows."""
    from pyspark.sql.window import Window


    t = load_tables(spark, sf_dir, "events")
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    ranked = daily.select(
        F.dayofweek("day").alias("wd"),
        "n_events",
        (
            F.lit(2) * F.rank().over(Window.orderBy("n_events"))
            + F.count(F.lit(1)).over(Window.partitionBy("n_events"))
            - 1
        )
        .cast("long")
        .alias("r2"),
    )
    grp = ranked.groupBy("wd").agg(
        F.count(F.lit(1)).cast("long").alias("ni"),
        F.sum("r2").cast("long").alias("r2i"),
    )
    terms = grp.agg(
        F.sum(
            idiv_col(
                F.col("r2i") * F.col("r2i"),
                F.lit(4) * F.col("ni"),
                scale=1_000_000,
            )
        )
        .cast("long")
        .alias("s_micro"),
        F.sum("ni").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    ties = (
        daily.groupBy("n_events")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .agg(
            F.coalesce(
                F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")),
                F.lit(0),
            )
            .cast("long")
            .alias("t3")
        )
    )
    n = F.col("n").cast("double")
    h = (
        F.lit(12.0)
        * (F.col("s_micro").cast("double") / F.lit(1_000_000.0))
        / (n * (F.col("n") + F.lit(1.0)))
        - F.lit(3.0) * (F.col("n") + F.lit(1.0))
    ) / (
        F.lit(1.0)
        - F.col("t3").cast("double")
        / (n * F.col("n") * F.col("n") - F.col("n"))
    )
    return terms.crossJoin(F.broadcast(ties)).select(
        F.col("n").alias("n_days"),
        F.col("k").alias("n_groups"),
        (F.col("k") - 1).cast("long").alias("dof"),
        F.col("t3").alias("tie_correction_t3"),
        F.floor(F.lit(1000.0) * h + F.lit(0.5)).cast("long").alias(
            "h_milli"
        ),
    )
