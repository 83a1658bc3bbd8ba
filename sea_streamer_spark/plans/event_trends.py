"""Trend, tail and concentration estimators over the events table:
Theil-Sen, ACF, EWMA, ESD/MAD anomalies, POT/GPD tails, change points,
power laws and Lorenz/Gini activity curves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.exact import idiv_col
from ..operators.rounds import iterate
from ..sources.tables import load_tables
from .registry import query


@query(
    "events_value_trend",
    oracle="""
    WITH b AS (
      SELECT event_type,
             epoch_us(ts) // 3600000000 AS h,
             CAST(FLOOR(value * 1000) AS BIGINT) AS ym
      FROM events
    ), c AS (
      SELECT event_type, h - MIN(h) OVER (PARTITION BY event_type) AS x, ym
      FROM b
    ), s AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(ym) AS BIGINT) AS sy,
             CAST(SUM(x * ym) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM c GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n, sx, sy, sxy, sxx,
           CAST(CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)
                AS DOUBLE) AS slope_milli_per_hour
    FROM s ORDER BY event_type""",
    tags=("llm", "events", "stats"),
)
def events_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend of event value over time — drift detection for a
    live metric, the regression member of the exact-stats family
    (variance/corr from exact sums): x = hour index centered per type
    (keeps every BIGINT sum far from overflow), y = milli-fixed-point
    value (float64 ``value*1000`` truncation is bit-identical on both
    engines), all five sufficient sums are EXACT BIGINTs riding one
    map-side-combined shuffle (plus one per-type min-hour window), and the
    slope is the identical double formula over them (the agg_corr_exact
    convention)."""
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, "events").events
    b = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
        F.expr("CAST(value * 1000 AS BIGINT)").alias("ym"),
    )
    w = Window.partitionBy("event_type")
    c = b.select(
        "event_type", (F.col("h") - F.min("h").over(w)).alias("x"), "ym"
    )
    n = F.count(F.lit(1))
    sx = F.sum("x").cast("long")
    sy = F.sum("ym").cast("long")
    sxy = F.sum(F.col("x") * F.col("ym")).cast("long")
    sxx = F.sum(F.col("x") * F.col("x")).cast("long")
    s = c.groupBy("event_type").agg(
        n.cast("long").alias("n"), sx.alias("sx"), sy.alias("sy"),
        sxy.alias("sxy"), sxx.alias("sxx"),
    )
    # numerator/denominator assembled as EXACT BIGINTs (bounds: |n·sxy| and
    # |sx·sy| stay ≤ ~1e17 at sf0.1 — documented, ANSI-pinned; the
    # double-product variant had the FMA-fusion hazard: DuckDB can fuse
    # a·b − c·d into one rounding, the JVM never does)
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ).cast("double")
    return s.select(
        "event_type", "n", "sx", "sy", "sxy", "sxx",
        slope.alias("slope_milli_per_hour"),
    )


@query(
    "events_mad_outliers",
    oracle="""
    WITH v AS (
      SELECT event_type, event_id,
             CAST(ROUND(value * 1000000) AS BIGINT) AS vm
      FROM events
    ), med AS (
      SELECT event_type, vm AS med FROM (
        SELECT event_type, vm,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY vm, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM v
      ) WHERE rn = (n + 1) // 2
    ), d AS (
      SELECT v.event_type, v.event_id, v.vm, ABS(v.vm - m.med) AS dev
      FROM v JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, dev AS mad FROM (
        SELECT event_type, dev,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY dev, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM d
      ) WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(m.med) AS BIGINT) AS median_micro,
           CAST(MIN(a.mad) AS BIGINT) AS mad_micro,
           CAST(SUM(CASE WHEN d.dev > 3 * a.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM d
    JOIN med m USING (event_type)
    JOIN mad a USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation (the
    robust-statistics member next to the z-score: immune to the outliers
    it hunts). Medians are EXACT order-statistic selections — the value at
    rank ``(n+1) div 2`` of the totally-ordered integer-micro sequence —
    never interpolation, so everything stays engine-exact integers; the
    3·MAD rule is an integer comparison. Plan: two per-type window passes
    (value ranks, then deviation ranks) + broadcastable per-type medians;
    both windows key on event_type and scale with per-type volume."""
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, "events").events
    v = ev.select(
        "event_type",
        "event_id",
        F.expr("CAST(ROUND(value * 1000000, 0) AS BIGINT)").alias("vm"),
    )

    def per_type_median(df, col):
        w = Window.partitionBy("event_type").orderBy(col, "event_id")
        wn = Window.partitionBy("event_type")
        return (
            df.select(
                "event_type",
                F.col(col),
                F.row_number().over(w).alias("rn"),
                F.count(F.lit(1)).over(wn).alias("n"),
            )
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select("event_type", F.col(col).alias("m"))
        )

    med = per_type_median(v, "vm").withColumnRenamed("m", "med")
    d = v.join(F.broadcast(med), "event_type").select(
        "event_type", "event_id", "vm",
        F.abs(F.col("vm") - F.col("med")).alias("dev"),
    )
    mad = per_type_median(d, "dev").withColumnRenamed("m", "mad")
    return (
        d.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("med").cast("long").alias("median_micro"),
            F.min("mad").cast("long").alias("mad_micro"),
            F.sum((F.col("dev") > 3 * F.col("mad")).cast("long"))
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# Exponentially-weighted moving average forecast eval (Brown 1956;
# Hunter, "The Exponentially Weighted Moving Average", JQT 1986): the
# one-step-ahead ingest-volume forecast every ops dashboard runs,
# s_t = α·c_t + (1-α)·s_{t-1} with α = 1/2. The dyadic α has a closed
# form that needs NO recursion and stays EXACT end-to-end:
#     A_t := 2^{t-1}·s_t = c_1 + Σ_{i=2..t} c_i·2^{i-2}
# is one window sum of integer-shifted counts (A_30 ≤ 3000·2^28 < 2^53),
# and s_t = A_t / 2^{t-1} is an exact IEEE double (power-of-two divide
# of a < 2^53 integer never rounds). The only rounding anywhere is the
# final ×1e6 micro conversion — correctly-rounded, identical on both
# engines. Forecast error e_t = c_t - s_{t-1} is likewise exact before
# its micro conversion.
@query(
    "events_ewma_forecast_eval",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, c,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY day) AS BIGINT) AS i
      FROM daily
    ),
    acc AS (
      SELECT event_type, i, c,
             CAST(SUM(c * (CASE WHEN i = 1 THEN 1
                           ELSE CAST(1 AS BIGINT) << (i - 2) END))
                  OVER (PARTITION BY event_type ORDER BY i) AS BIGINT) AS a
      FROM idx
    ),
    lagged AS (
      SELECT event_type, i, c, a,
             LAG(a) OVER (PARTITION BY event_type ORDER BY i) AS a_prev
      FROM acc
    ),
    terms AS (
      SELECT event_type,
             CAST(ROUND(1000000 * (c - CAST(a_prev AS DOUBLE)
                                       / power(2.0, i - 2))) AS BIGINT) AS e
      FROM lagged WHERE i >= 2
    ),
    lvl0 AS (
      SELECT event_type, CAST(MAX(i) AS BIGINT) AS n_days,
             CAST(MAX(a) AS BIGINT) AS a_max,
             CAST(MAX_BY(a, i) AS BIGINT) AS a_last,
             CAST(ROUND(1000000 * (CAST(MAX_BY(a, i) AS DOUBLE)
                                   / power(2.0, MAX(i) - 1)))
                  AS BIGINT) AS level_micro
      FROM lagged GROUP BY event_type
    ),
    lvl AS (
      SELECT event_type,
             CASE WHEN n_days <= 62 AND a_max < 9007199254740992
                       AND a_last = a_max
                  THEN n_days
                  ELSE CAST(error('events_ewma_forecast_eval: closed-form '
                       || 'capacity exceeded (n_days > 62, A_t >= 2^53, '
                       || 'or accumulator wrapped)') AS BIGINT)
             END AS n_days,
             level_micro
      FROM lvl0
    )
    SELECT l.event_type, l.n_days, l.level_micro,
           CAST(SUM(ABS(t.e)) // (l.n_days - 1) AS BIGINT) AS mae_micro,
           CAST(MAX(ABS(t.e)) AS BIGINT) AS max_abs_err_micro
    FROM lvl l JOIN terms t ON t.event_type = l.event_type
    GROUP BY l.event_type, l.n_days, l.level_micro
    ORDER BY l.event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_ewma_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead EWMA (α=1/2) forecast quality per event type over
    daily counts: the final smoothed level, mean and max absolute
    forecast error (micro) — all from the exact closed-form window sum
    (no recursion, no float drift; the dyadic denominator makes every
    intermediate an exact double). Plan: one daily rollup, then one
    day-dimension window pass."""
    ev = load_tables(spark, sf_dir, "events").events
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type", "c", F.row_number().over(w).cast("long").alias("i")
    )
    wi = Window.partitionBy("event_type").orderBy("i")
    acc = idx.select(
        "event_type",
        "i",
        "c",
        F.sum(
            F.col("c")
            * F.when(F.col("i") == 1, F.lit(1).cast("long")).otherwise(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(i - 2 AS INT))")
            )
        )
        .over(wi)
        .cast("long")
        .alias("a"),
    )
    lagged = acc.select(
        "event_type", "i", "c", "a", F.lag("a").over(wi).alias("a_prev")
    )
    terms = lagged.filter(F.col("i") >= 2).select(
        "event_type",
        F.round(
            1_000_000
            * (
                F.col("c")
                - F.col("a_prev").cast("double")
                / F.pow(F.lit(2.0), F.col("i") - 2)
            )
        )
        .cast("long")
        .alias("e"),
    )
    # Capacity guard (r9 ADVICE): the closed form A_t = Σ c_i·2^(i-2) is
    # exact only while the shift stays in-word (n_days ≤ 62) and A_t
    # stays an exact double (< 2^53); a is nondecreasing for nonneg
    # counts, so last-A == max-A detects a silent BIGINT wrap. A fixture
    # past the bound fails LOUDLY on both engines (raise_error/error())
    # instead of emitting wrapped garbage.
    lvl0 = lagged.groupBy("event_type").agg(
        F.max("i").cast("long").alias("nd_raw"),
        F.max("a").cast("long").alias("a_max"),
        F.max_by("a", "i").cast("long").alias("a_last"),
        F.round(
            1_000_000
            * (
                F.max_by("a", "i").cast("double")
                / F.pow(F.lit(2.0), F.max("i") - 1)
            )
        )
        .cast("long")
        .alias("level_micro"),
    )
    guard_ok = (
        (F.col("nd_raw") <= F.lit(62))
        & (F.col("a_max") < F.lit(9007199254740992))
        & (F.col("a_last") == F.col("a_max"))
    )
    lvl = lvl0.select(
        "event_type",
        F.when(guard_ok, F.col("nd_raw"))
        .otherwise(
            F.raise_error(
                "events_ewma_forecast_eval: closed-form capacity exceeded "
                "(n_days > 62, A_t >= 2^53, or accumulator wrapped)"
            ).cast("long")
        )
        .alias("n_days"),
        "level_micro",
    )
    return (
        lvl.join(terms, "event_type")
        .groupBy("event_type", "n_days", "level_micro")
        .agg(
            idiv_col(F.sum(F.abs(F.col("e"))), F.col("n_days") - 1).alias(
                "mae_micro"
            ),
            F.max(F.abs(F.col("e"))).cast("long").alias("max_abs_err_micro"),
        )
        .orderBy("event_type")
    )


# Power-law tail fit of user activity (Clauset, Shalizi & Newman,
# "Power-law distributions in empirical data", SIAM Review 2009): the
# discrete MLE α = 1 + n / Σ ln(x_i / x_min) over users with at least
# x_min events — the heavy-tail screen that decides whether per-user
# capping/salting is needed (α < 2 means the heaviest user dominates
# totals at scale). Per-user micro-rounded ln terms (order-free sum),
# one exact integer division.
_PL_XMIN = 5


@query(
    "events_user_powerlaw_mle",
    oracle=f"""
    WITH ua AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY user_id
    ),
    tail AS (
      SELECT x,
             CAST(ROUND(ln(CAST(x AS DOUBLE) / {_PL_XMIN}) * 1000000)
                  AS BIGINT) AS term
      FROM ua WHERE x >= {_PL_XMIN}
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ua) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_tail,
           CAST({_PL_XMIN} AS BIGINT) AS x_min,
           CAST(CASE WHEN SUM(term) <= 0 THEN -1
                ELSE 1000000 + CAST(1000000000000 AS HUGEINT) * COUNT(*)
                     // SUM(term)
                END AS BIGINT) AS alpha_micro
    FROM tail
    """,
    tags=("streaming", "events", "stats"),
)
def events_user_powerlaw_mle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete power-law MLE α (micro) for the per-user event-count
    tail (x ≥ 5): the skew diagnostic behind the registry's salting and
    capping choices. One user-keyed count, one tail rollup; the ln
    terms are micro-rounded per user before the order-free sum; -1
    flags a degenerate all-at-x_min tail."""
    ev = load_tables(spark, sf_dir, "events").events
    ua = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("x"))
    n_users = ua.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    tail = ua.filter(F.col("x") >= _PL_XMIN).select(
        F.round(
            F.log(F.col("x").cast("double") / _PL_XMIN) * 1_000_000
        )
        .cast("long")
        .alias("term")
    )
    agg = tail.agg(
        F.count(F.lit(1)).cast("long").alias("n_tail"),
        F.sum("term").cast("long").alias("sterm"),
    )
    return agg.crossJoin(F.broadcast(n_users)).select(
        "n_users",
        "n_tail",
        F.lit(_PL_XMIN).cast("long").alias("x_min"),
        # 1e12 scaling inside idiv_col's decimal space (r9 ADVICE: the
        # old BIGINT pre-multiply 1e12·n_tail wrapped past ~9.2M tail
        # users while the HUGEINT oracle errored — engines diverged).
        F.when(F.col("sterm") <= 0, F.lit(-1))
        .otherwise(
            F.lit(1_000_000)
            + idiv_col(
                F.col("n_tail"), F.col("sterm"), scale=1_000_000_000_000
            )
        )
        .cast("long")
        .alias("alpha_micro"),
    )


# Iterative masked outlier screen over daily volumes (Rosner's
# generalized ESD shape, Technometrics 1983, with a fixed 3.0 cutoff in
# place of the t-quantile ladder — no stats library in the stack, and
# the masking mechanics are the point): plain z-scores MISS outliers
# when two extremes inflate the std ("masking"); the fix is iterative —
# remove the most extreme day, RECOMPUTE mean/std without it, repeat.
# Three unrolled rounds; each round's mean/std come from exact integer
# (S, S²) sums over the remaining days, the max |x-μ|/σ day is an
# integer-tie-broken argmax, and the R statistic is the one
# milli-rounded float per round.
_ESD_ROUNDS = 3


_ESD_CUTOFF_MILLI = 3000


def _build_esd_oracle() -> str:
    parts = ["""
    daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    r0 AS (SELECT day, c FROM daily)"""]
    rows = []
    for k in range(1, _ESD_ROUNDS + 1):
        parts.append(f"""
    m{k} AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s,
             CAST(SUM(c * c) AS BIGINT) AS ss
      FROM r{k - 1}
    ),
    p{k} AS (
      SELECT r.day, r.c,
             CAST(ROUND(1000 * ABS(r.c - CAST(m.s AS DOUBLE) / m.n)
                  / SQRT((CAST(m.n AS DOUBLE) * m.ss - CAST(m.s AS DOUBLE) * m.s)
                         / (CAST(m.n AS DOUBLE) * (m.n - 1)))) AS BIGINT)
               AS r_milli
      FROM r{k - 1} r CROSS JOIN m{k} m
      ORDER BY r_milli DESC, r.day LIMIT 1
    ),
    r{k} AS (
      SELECT day, c FROM r{k - 1}
      WHERE day <> (SELECT day FROM p{k})
    )""")
        rows.append(
            f"SELECT CAST({k} AS BIGINT) AS round,"
            f" strftime(p{k}.day, '%Y-%m-%d') AS day, p{k}.c AS n_events,"
            f" p{k}.r_milli,"
            f" CAST(p{k}.r_milli > {_ESD_CUTOFF_MILLI} AS BIGINT) AS flagged"
            f" FROM p{k}"
        )
    return (
        "WITH " + ",".join(parts)
        + "\n    SELECT * FROM (" + " UNION ALL ".join(rows)
        + ") ORDER BY round"
    )


@query(
    "events_anomaly_masked_esd",
    oracle=_build_esd_oracle(),
    tags=("streaming", "events", "stats"),
)
def events_anomaly_masked_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of masking-robust outlier detection over daily
    event totals: each round reports the most extreme remaining day,
    its deviation R = |x−μ|/σ (milli, stats recomputed WITHOUT the
    previously removed days — the property plain z-scores lack), and
    the 3.0-cutoff flag. Everything lives on the ~30-row day dimension;
    round argmaxes are TakeOrdered(1) collects."""
    ev = load_tables(spark, sf_dir, "events").events
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )

    def step(state):
        cur, out = state
        m = cur.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("s"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        )
        mean = F.col("s").cast("double") / F.col("n")
        var = (
            F.col("n").cast("double") * F.col("ss")
            - F.col("s").cast("double") * F.col("s")
        ) / (F.col("n").cast("double") * (F.col("n") - 1))
        pick = (
            cur.crossJoin(F.broadcast(m))
            .select(
                "day",
                "c",
                F.round(1000 * F.abs(F.col("c") - mean) / F.sqrt(var))
                .cast("long")
                .alias("r_milli"),
            )
            .orderBy(F.desc("r_milli"), "day")
            .limit(1)
            .collect()[0]
        )
        day, c, r = pick["day"], pick["c"], pick["r_milli"]
        row = (len(out) + 1, day.strftime("%Y-%m-%d"), c, r, int(r > _ESD_CUTOFF_MILLI))
        rest = cur.filter(F.col("day") != F.lit(day))
        return rest.localCheckpoint(eager=True), out + [row]

    _, out = iterate((daily, []), step, _ESD_ROUNDS)
    return spark.createDataFrame(
        out, "round long, day string, n_events long, r_milli long, flagged long"
    )


# Theil-Sen trend estimator over per-type daily ingest counts (Theil
# 1950; Sen, JASA 1968): the median of all pairwise slopes — the robust
# companion to the Mann-Kendall TEST already registered (wave 24): M-K
# says "is there a monotone trend", Theil-Sen says "how steep", and
# unlike OLS one corrupted day cannot move it. Slopes are exact
# integers: slope_micro = 1e6·(c_j − c_i) // (j − i) (truncation toward
# zero on both engines via idiv_col/`//`), the median is the lower
# median by ROW_NUMBER — no floats anywhere. The pairwise relation is
# DAY-dimension bounded (n_days ≤ 62 by the EWMA-family fixture bound:
# ~2k pairs per type), never corpus-sized.
@query(
    "events_theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, c,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY day) AS BIGINT) AS i
      FROM daily
    ),
    slopes AS (
      SELECT a.event_type,
             CAST(1000000 * (b.c - a.c) // (b.i - a.i) AS BIGINT) AS s
      FROM idx a JOIN idx b
        ON b.event_type = a.event_type AND b.i > a.i
    ),
    ranked AS (
      SELECT event_type, s,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY s) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM slopes
    )
    SELECT event_type,
           CAST((SELECT COUNT(*) FROM idx i
                 WHERE i.event_type = ranked.event_type) AS BIGINT) AS n_days,
           CAST(np AS BIGINT) AS n_pairs,
           CAST(s AS BIGINT) AS slope_micro
    FROM ranked WHERE rn = (np + 1) // 2
    ORDER BY event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend (events/day drift per day, micro) per
    event type: lower median of the 1e6-scaled integer pairwise slopes
    of the daily-count series. One daily rollup, one day-dimension
    self-join (≤ n_days² pairs per type — dimension-bounded), one
    ranking window; exact integer end-to-end."""
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, "events").events
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type", "c", F.row_number().over(w).cast("long").alias("i")
    )
    a, b = idx.alias("a"), idx.alias("b")

    slopes = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.i") > F.col("a.i")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        idiv_col(
            F.col("b.c") - F.col("a.c"),
            F.col("b.i") - F.col("a.i"),
            scale=1_000_000,
        ).alias("s"),
    )
    wp = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "s",
        F.row_number().over(wp.orderBy("s")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("np"),
    )
    n_days = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return (
        ranked.filter(F.col("rn") == F.floor((F.col("np") + 1) / 2))
        .join(n_days, "event_type")
        .select(
            "event_type",
            "n_days",
            F.col("np").cast("long").alias("n_pairs"),
            F.col("s").cast("long").alias("slope_micro"),
        )
        .orderBy("event_type")
    )


# Sample autocorrelation function of the daily ingest series per type
# (Box & Jenkins 1970, the textbook ACF): r_k for lags 1..7 — the
# weekly-seasonality screen beside EWMA (level), Mann-Kendall (trend),
# CUSUM (changepoint) and the arrival-KS (burstiness). Exact integers
# by clearing the mean's denominator: with S = Σc and n days,
#     r_k = Σ_t (n·c_t − S)(n·c_{t+k} − S) / Σ_t (n·c_t − S)²
# — numerator and denominator are integer sums of products of
# (n·c − S) terms, carried in DECIMAL(38,0)/HUGEINT (n·c can pass 2^31
# easily and the squared sums pass 2^63 at production volumes — the
# round-10 ADVICE headroom discipline), one exact scaled division.
_ACF_MAX_LAG = 7


@query(
    "events_acf_daily",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, c,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY day) AS BIGINT) AS i
      FROM daily
    ),
    stats AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s
      FROM idx GROUP BY event_type
    ),
    dev AS (
      SELECT i.event_type, i.i,
             CAST(st.n AS HUGEINT) * i.c - st.s AS d
      FROM idx i JOIN stats st ON st.event_type = i.event_type
    ),
    den AS (
      SELECT event_type, SUM(d * d) AS den
      FROM dev GROUP BY event_type
    ),
    lags AS (
      SELECT CAST(unnest(range(1, {_ACF_MAX_LAG + 1})) AS BIGINT) AS lag
    ),
    num AS (
      SELECT a.event_type, l.lag, SUM(a.d * b.d) AS num,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM dev a
      CROSS JOIN lags l
      JOIN dev b ON b.event_type = a.event_type AND b.i = a.i + l.lag
      GROUP BY a.event_type, l.lag
    )
    SELECT n.event_type, n.lag,
           (SELECT st.n FROM stats st
            WHERE st.event_type = n.event_type) AS n_days,
           n.n_terms,
           CAST(1000 * n.num // d.den AS BIGINT) AS acf_permille
    FROM num n JOIN den d ON d.event_type = n.event_type
    ORDER BY n.event_type, n.lag
    """,
    tags=("streaming", "events", "stats"),
)
def events_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-count autocorrelation r_k (permille) per event type for
    lags 1..{7}: the seasonality screen. Mean cleared into integers
    (n·c − S), products carried in decimal(38,0); the lag join is keyed
    on (type, i+lag) against a 7-row lag dimension — day-dimension
    bounded, one pass over the daily rollup."""
    from pyspark.sql.window import Window


    ev = load_tables(spark, sf_dir, "events").events
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type", "c", F.row_number().over(w).cast("long").alias("i")
    )
    stats = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
    )
    dev = idx.join(stats, "event_type").select(
        "event_type",
        "i",
        (
            F.col("n").cast("decimal(38,0)") * F.col("c")
            - F.col("s").cast("decimal(38,0)")
        ).alias("d"),
    )
    den = dev.groupBy("event_type").agg(
        F.sum(
            (F.col("d") * F.col("d")).cast("decimal(38,0)")
        ).alias("den")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a, b = dev.alias("a"), dev.alias("b")
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.i") == F.col("a.i") + F.col("lag")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"), "lag")
        .agg(
            F.sum(
                (F.col("a.d") * F.col("b.d")).cast("decimal(38,0)")
            ).alias("num"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
    )
    return (
        num.join(den, "event_type")
        .join(stats.select("event_type", F.col("n").alias("n_days")), "event_type")
        .select(
            "event_type",
            "lag",
            F.col("n_days").cast("long").alias("n_days"),
            "n_terms",
            idiv_col(F.col("num"), F.col("den"), scale=1000).alias(
                "acf_permille"
            ),
        )
        .orderBy("event_type", "lag")
    )


# Peaks-over-threshold tail analysis of event values (Pickands 1975;
# method-of-moments GPD fit per Hosking & Wallis, Technometrics 1987):
# the extreme-value screen an ops pipeline runs on latency/size/value
# columns — how heavy is the tail above the p90? Values micro-round
# ONCE per row; the threshold is the exact ascending order statistic at
# ceil(0.9·n); excesses are integers; Σe and Σe² ride HUGEINT/decimal
# (e² alone passes 2^58 on this fixture); the GPD ξ̂ = (1 − m̄²/s²)/2
# and σ̂ = m̄(m̄²/s² + 1)/2 are the only floats, computed from the three
# integer sums with identical double expressions and rounded once.
@query(
    "events_pot_tail_gpd",
    oracle="""
    WITH vals AS (
      SELECT event_type,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY
                  ROUND(value * 1000000)) AS BIGINT) AS rn
      FROM events
    ),
    thr AS (
      SELECT event_type, v AS u, n
      FROM vals WHERE rn = (9 * n + 9) // 10
    ),
    exc AS (
      SELECT v.event_type, v.v - t.u AS e, t.u, t.n
      FROM vals v JOIN thr t ON t.event_type = v.event_type
      WHERE v.v > t.u
    ),
    mom AS (
      SELECT event_type, MIN(u) AS u, MIN(n) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_exceed,
             CAST(SUM(e) AS HUGEINT) AS se,
             SUM(CAST(e AS HUGEINT) * e) AS se2
      FROM exc GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_values,
           CAST(u AS BIGINT) AS threshold_micro, n_exceed,
           CAST(se // n_exceed AS BIGINT) AS mean_excess_micro,
           CAST(ROUND(500 * (1 -
             (CAST(se AS DOUBLE) / n_exceed)
             * (CAST(se AS DOUBLE) / n_exceed)
             / ((CAST(se2 AS DOUBLE) - CAST(se AS DOUBLE) * se / n_exceed)
                / (n_exceed - 1))
           )) AS BIGINT) AS xi_milli,
           CAST(ROUND((CAST(se AS DOUBLE) / n_exceed) * 0.5 *
             ((CAST(se AS DOUBLE) / n_exceed)
              * (CAST(se AS DOUBLE) / n_exceed)
              / ((CAST(se2 AS DOUBLE) - CAST(se AS DOUBLE) * se / n_exceed)
                 / (n_exceed - 1)) + 1)) AS BIGINT) AS sigma_micro
    FROM mom ORDER BY event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_pot_tail_gpd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold tail profile per event type: exact p90
    order-statistic threshold (micro), exceedance count, integer mean
    excess, and the method-of-moments GPD shape ξ (milli; > 0 = heavy
    tail, capping advised) and scale σ (micro). One value-dimension
    rank window + one keyed moment aggregate; Σe² in decimal."""
    from pyspark.sql.window import Window


    ev = load_tables(spark, sf_dir, "events").events
    v = F.round(F.col("value") * 1_000_000).cast("long")
    wp = Window.partitionBy("event_type")
    vals = ev.select(
        "event_type",
        v.alias("v"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
        F.row_number()
        .over(wp.orderBy(F.round(F.col("value") * 1_000_000)))
        .cast("long")
        .alias("rn"),
    )
    thr = vals.filter(
        F.col("rn") == idiv_col(F.lit(9) * F.col("n") + 9, F.lit(10))
    ).select("event_type", F.col("v").alias("u"), "n")
    exc = (
        vals.join(thr.select("event_type", "u", F.col("n").alias("nt")), "event_type")
        .filter(F.col("v") > F.col("u"))
        .select(
            "event_type",
            (F.col("v") - F.col("u")).alias("e"),
            "u",
            F.col("nt").alias("n"),
        )
    )
    mom = exc.groupBy("event_type").agg(
        F.min("u").cast("long").alias("u"),
        F.min("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_exceed"),
        F.sum(F.col("e").cast("decimal(38,0)")).alias("se"),
        F.sum((F.col("e").cast("decimal(38,0)") * F.col("e"))).alias("se2"),
    )
    m = F.col("se").cast("double") / F.col("n_exceed")
    s2 = (
        F.col("se2").cast("double")
        - F.col("se").cast("double") * F.col("se").cast("double") / F.col("n_exceed")
    ) / (F.col("n_exceed") - 1)
    return mom.select(
        "event_type",
        F.col("n").alias("n_values"),
        F.col("u").alias("threshold_micro"),
        "n_exceed",
        idiv_col(F.col("se"), F.col("n_exceed")).alias("mean_excess_micro"),
        F.round(F.lit(500) * (F.lit(1) - m * m / s2))
        .cast("long")
        .alias("xi_milli"),
        F.round(m * F.lit(0.5) * (m * m / s2 + F.lit(1)))
        .cast("long")
        .alias("sigma_micro"),
    ).orderBy("event_type")


# Binary-segmentation changepoint ESTIMATE over daily counts (Scott &
# Knott 1974; Vostrikova 1981 — the location/magnitude companion to the
# registered CUSUM test, which only flags and locates the peak of the
# cumulative deviation): the best single split k maximizes the
# between-segment sum-of-squares gain, which with prefix sums P_k
# clears to integers as
#     G(k) ∝ (n_R·P_k − n_L·(S−P_k))² / (n_L·n_R)
# — the numerator is exact (carried in DECIMAL/HUGEINT), the division
# truncates identically in both engines (the ranking statistic is the
# truncated gain, stated), argmax ties break to the smaller k. Segment
# means are exact micro integers.
@query(
    "events_changepoint_binseg",
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
             CAST(SUM(c) OVER (PARTITION BY event_type
                               ORDER BY day) AS BIGINT) AS p,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS s
      FROM daily
    ),
    gains AS (
      SELECT event_type, day, i, n, p, s,
             (CAST(n - i AS HUGEINT) * p - CAST(i AS HUGEINT) * (s - p))
               AS dnum
      FROM idx WHERE i < n
    ),
    ranked AS (
      SELECT event_type, day, i, n, p, s,
             dnum * dnum // (CAST(i AS HUGEINT) * (n - i)) AS gain,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY dnum * dnum // (CAST(i AS HUGEINT) * (n - i)) DESC,
                        i) AS rk
      FROM gains
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST(i AS BIGINT) AS split_index,
           CAST(day AS VARCHAR) AS split_day,
           CAST(gain AS BIGINT) AS gain_scaled,
           CAST(1000000 * p // i AS BIGINT) AS mean_left_micro,
           CAST(1000000 * (s - p) // (n - i) AS BIGINT) AS mean_right_micro,
           CAST(1000000 * (s - p) // (n - i) - 1000000 * p // i AS BIGINT)
             AS delta_micro
    FROM ranked WHERE rk = 1
    ORDER BY event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-split changepoint per event type (binary
    segmentation): the day index maximizing the exact integer-scaled
    between-segment SSE gain, with the two segment means (micro) and
    their delta. One daily rollup + one prefix window + one rank window
    — all day-dimension bounded; products in decimal(38,0)."""
    from pyspark.sql.window import Window


    ev = load_tables(spark, sf_dir, "events").events
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    wp = Window.partitionBy("event_type")
    w = wp.orderBy("day")
    idx = daily.select(
        "event_type",
        "day",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("c").over(w.rangeBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("p"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
        F.sum("c").over(wp).cast("long").alias("s"),
    )
    dnum = (
        (F.col("n") - F.col("i")).cast("decimal(38,0)") * F.col("p")
        - F.col("i").cast("decimal(38,0)") * (F.col("s") - F.col("p"))
    )
    gains = idx.filter(F.col("i") < F.col("n")).withColumn("dnum", dnum)
    gain_expr = (
        (F.col("dnum") * F.col("dnum")).cast("decimal(38,0)")
        - (
            (F.col("dnum") * F.col("dnum")).cast("decimal(38,0)")
            % (F.col("i").cast("decimal(38,0)") * (F.col("n") - F.col("i")))
        )
    ) / (F.col("i").cast("decimal(38,0)") * (F.col("n") - F.col("i")))
    ranked = gains.withColumn("gain", gain_expr).select(
        "*",
        F.row_number()
        .over(wp.orderBy(F.desc("gain"), F.asc("i")))
        .alias("rk"),
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.col("i").alias("split_index"),
            F.col("day").cast("string").alias("split_day"),
            F.col("gain").cast("long").alias("gain_scaled"),
            idiv_col(F.col("p"), F.col("i"), scale=1_000_000).alias(
                "mean_left_micro"
            ),
            idiv_col(
                F.col("s") - F.col("p"),
                F.col("n") - F.col("i"),
                scale=1_000_000,
            ).alias("mean_right_micro"),
            (
                idiv_col(
                    F.col("s") - F.col("p"),
                    F.col("n") - F.col("i"),
                    scale=1_000_000,
                )
                - idiv_col(F.col("p"), F.col("i"), scale=1_000_000)
            )
            .cast("long")
            .alias("delta_micro"),
        )
        .orderBy("event_type")
    )


# Lorenz concentration of event volume across users (Lorenz 1905 — the
# curve behind the Gini/Theil/HHI rows already registered for revenue):
# users ranked by activity into deciles, each decile's share and
# cumulative share of all events (permille). The standard "how skewed
# is the load" picture that decides per-user salting — the powerlaw-MLE
# wave says WHETHER the tail is heavy, this says HOW MUCH volume the
# top decile actually carries. Pure integers; NTILE over the
# user-dimension rollup (the calibration-curve precedent).
@query(
    "events_lorenz_user_activity",
    oracle="""
    WITH ua AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY user_id
    ),
    deciled AS (
      SELECT x, NTILE(10) OVER (ORDER BY x, user_id) AS decile FROM ua
    ),
    tot AS (SELECT CAST(SUM(x) AS BIGINT) AS s FROM deciled),
    per AS (
      SELECT CAST(decile AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(x) AS BIGINT) AS n_events
      FROM deciled GROUP BY decile
    )
    SELECT decile, n_users, n_events,
           CAST(1000 * n_events // (SELECT s FROM tot) AS BIGINT)
             AS share_permille,
           CAST(1000 * SUM(n_events) OVER (ORDER BY decile)
                // (SELECT s FROM tot) AS BIGINT) AS cum_share_permille
    FROM per ORDER BY decile
    """,
    tags=("streaming", "events", "stats"),
)
def events_lorenz_user_activity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """User-activity Lorenz deciles: users ranked ascending by event
    count (user_id tie-break), per-decile and cumulative volume shares
    (permille, exact floor). One user rollup + one user-dimension
    NTILE + one decile window."""
    from pyspark.sql.window import Window


    ev = load_tables(spark, sf_dir, "events").events
    ua = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    deciled = ua.select(
        "x",
        F.ntile(10)
        .over(Window.orderBy("x", "user_id"))
        .cast("long")
        .alias("decile"),
    )
    tot = deciled.agg(F.sum("x").cast("long").alias("s"))
    per = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("n_events"),
    )
    w = Window.orderBy("decile").rangeBetween(Window.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            "n_events",
            idiv_col(F.col("n_events"), F.col("s"), scale=1000).alias(
                "share_permille"
            ),
            idiv_col(
                F.sum("n_events").over(w), F.col("s"), scale=1000
            ).alias("cum_share_permille"),
        )
        .orderBy("decile")
    )


# Median/MAD robust anomaly days (Hampel 1974; the MADN rule of Leys et
# al. 2013 — "detecting outliers: do not use mean±SD"): days whose
# daily count deviates from the per-type MEDIAN by more than
# 3·1.4826·MAD. Every quantity is an exact integer: lower medians via
# rank windows, and the 3·1.4826 scale folds into the ALL-INTEGER
# comparison 10000·|c − med| > 44478·MAD — no float exists in either
# engine. The masked-ESD wave is the parametric cousin; this is the
# rule ops teams actually deploy (no normality assumption).
@query(
    "events_anomaly_mad_days",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, c AS m FROM (
        SELECT event_type, c,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c, day)
                 AS vr,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM daily
      ) WHERE vr = (n + 1) // 2
    ),
    dev AS (
      SELECT d.event_type, d.day, d.c, med.m, ABS(d.c - med.m) AS ad
      FROM daily d JOIN med ON med.event_type = d.event_type
    ),
    mad AS (
      SELECT event_type, ad AS mad FROM (
        SELECT event_type, ad,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ad)
                 AS vr,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
      ) WHERE vr = (n + 1) // 2
    )
    SELECT dev.event_type, CAST(dev.day AS VARCHAR) AS day, dev.c,
           dev.m AS median_c, mad.mad,
           CAST(10000 * dev.ad AS BIGINT) AS dev_e4,
           CAST(44478 * mad.mad AS BIGINT) AS cutoff_e4
    FROM dev JOIN mad ON mad.event_type = dev.event_type
    WHERE 10000 * dev.ad > 44478 * mad.mad
    ORDER BY dev.event_type, day
    """,
    tags=("streaming", "events", "stats"),
)
def events_anomaly_mad_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days flagged by the robust median/MAD rule (|c − median| >
    3·1.4826·MAD, evaluated as the integer comparison 10000·dev >
    44478·MAD): per flagged day, the count, the per-type median and
    MAD, and both comparison sides. Two rank windows over the day
    dimension; zero floats anywhere."""
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, "events").events
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    wp = Window.partitionBy("event_type")

    def lower_median(df, val, extra_order):
        ranked = df.select(
            "*",
            F.row_number()
            .over(wp.orderBy(val, *extra_order))
            .alias("vr"),
            F.count(F.lit(1)).over(wp).alias("n"),
        )
        return ranked.filter(
            F.col("vr") == F.floor((F.col("n") + 1) / 2)
        )

    med = lower_median(daily, F.col("c"), [F.col("day")]).select(
        "event_type", F.col("c").alias("m")
    )
    dev = daily.join(med, "event_type").select(
        "event_type",
        "day",
        "c",
        "m",
        F.abs(F.col("c") - F.col("m")).alias("ad"),
    )
    mad = lower_median(dev, F.col("ad"), [F.col("day")]).select(
        "event_type", F.col("ad").alias("mad")
    )
    return (
        dev.join(mad, "event_type")
        .filter(F.lit(10000) * F.col("ad") > F.lit(44478) * F.col("mad"))
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            "c",
            F.col("m").alias("median_c"),
            "mad",
            (F.lit(10000) * F.col("ad")).cast("long").alias("dev_e4"),
            (F.lit(44478) * F.col("mad")).cast("long").alias("cutoff_e4"),
        )
        .orderBy("event_type", "day")
    )


# Gini coefficient of per-user event volume (Gini 1912, by the exact
# sorted-rank identity G = (2·Σ i·x_(i) − (n+1)·S) / (n·S)): the scalar
# beside the Lorenz decile table (wave 15) — one number for "how
# concentrated is the load", exact integer milli with the products in
# decimal/HUGEINT (Σ i·x reaches n²·x̄). Ranks tie-break by user_id;
# the identity is tie-safe (equal x values contribute the same total
# regardless of their relative order).
@query(
    "events_gini_user_activity",
    oracle="""
    WITH ua AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, user_id) AS BIGINT) AS i
      FROM ua
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             SUM(CAST(i AS HUGEINT) * x) AS six
      FROM ranked
    )
    SELECT n AS n_users, sx AS n_events,
           CAST(CASE WHEN n * sx = 0 THEN 0
                ELSE 1000 * (2 * six - (n + 1) * sx)
                     // (CAST(n AS HUGEINT) * sx) END AS BIGINT)
             AS gini_milli
    FROM s
    """,
    tags=("streaming", "events", "stats"),
)
def events_gini_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer-milli Gini of per-user event counts via the
    sorted-rank identity — the concentration scalar beside the Lorenz
    deciles. One user rollup + one rank window + one moment aggregate;
    rank-weighted sums in decimal(38,0)."""
    from pyspark.sql.window import Window


    ev = load_tables(spark, sf_dir, "events").events
    ua = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    ranked = ua.select(
        "x",
        F.row_number()
        .over(Window.orderBy("x", "user_id"))
        .cast("long")
        .alias("i"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("x")).alias("six"),
    )
    num = (
        F.lit(2) * F.col("six")
        - (F.col("n") + 1).cast("decimal(38,0)") * F.col("sx")
    )
    den = F.col("n").cast("decimal(38,0)") * F.col("sx")
    return s.select(
        F.col("n").alias("n_users"),
        F.col("sx").alias("n_events"),
        F.when(den == 0, F.lit(0))
        .otherwise(idiv_col(num, den, scale=1000))
        .cast("long")
        .alias("gini_milli"),
    )


# Burstiness of the arrival process per event type (Goh & Barabási, EPL
# 2008): B = (σ − μ)/(σ + μ) over inter-event gaps — the
# scale-free companion to the dispersion index (wave 6 judges daily
# COUNTS against Poisson; B judges the GAP distribution itself: B → −1
# periodic, B ≈ 0 Poisson, B → +1 bursty). Gaps in seconds (exact
# integers); μ and σ² come from exact integer sums (Σg, Σg² in
# DECIMAL(38,0)/HUGEINT; population variance with the n² denominator
# cleared), σ is the ONE float:
#     b_milli = FLOOR(1000·(σ_scaled − μ_scaled)/(σ_scaled + μ_scaled)
#               + 0.5),  σ_scaled = sqrt(n·Σg² − (Σg)²), μ_scaled = Σg
# (both sides scaled by n so the ratio is unchanged — no division
# before the final expression; identical doubles in both engines).
@query(
    "events_burstiness_index",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             CAST((epoch_us(ts) - epoch_us(LAG(ts) OVER
                  (PARTITION BY event_type, user_id
                   ORDER BY ts, event_id))) // 1000000 AS BIGINT) AS g
      FROM events
      QUALIFY g IS NOT NULL
    ),
    per AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(g) AS BIGINT) AS s,
             CAST(SUM(CAST(g AS HUGEINT) * g) AS HUGEINT) AS s2
      FROM gaps GROUP BY event_type
    )
    SELECT event_type, n AS n_gaps,
           CAST(s // n AS BIGINT) AS mean_gap_s,
           CAST(FLOOR(1000.0 * (sqrt(CAST(CAST(n AS HUGEINT) * s2
                                          - CAST(s AS HUGEINT) * s
                                          AS DOUBLE)) - CAST(s AS DOUBLE))
                      / (sqrt(CAST(CAST(n AS HUGEINT) * s2
                                   - CAST(s AS HUGEINT) * s AS DOUBLE))
                         + CAST(s AS DOUBLE)) + 0.5) AS BIGINT)
             AS burstiness_milli
    FROM per ORDER BY event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_burstiness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness B (milli; one sqrt float, half-up
    rounded) of per-user inter-event gaps per event type. One lag
    window, one keyed aggregate; moment products in DECIMAL(38,0)."""
    from pyspark.sql.window import Window


    ev = load_tables(spark, sf_dir, "events").events
    wu = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    gaps = ev.select(
        "event_type",
        F.expr(
            "(unix_micros(ts) - unix_micros(lag(ts) OVER "
            "(PARTITION BY event_type, user_id ORDER BY ts, event_id)))"
            " div 1000000"
        ).alias("g"),
    ).filter(F.col("g").isNotNull())
    per = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("g").cast("long").alias("s"),
        F.sum(F.col("g").cast("decimal(38,0)") * F.col("g"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    var_scaled = (
        F.col("n").cast("decimal(38,0)") * F.col("s2")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    ).cast("double")
    sig = F.sqrt(var_scaled)
    mu = F.col("s").cast("double")
    return per.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        idiv_col(F.col("s"), F.col("n")).alias("mean_gap_s"),
        F.floor(F.lit(1000.0) * (sig - mu) / (sig + mu) + F.lit(0.5))
        .cast("long")
        .alias("burstiness_milli"),
    ).orderBy("event_type")
