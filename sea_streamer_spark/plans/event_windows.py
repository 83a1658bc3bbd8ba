"""Events-table window queries: decayed engagement, rolling actives,
LOCF, DAU/MAU, seasonality residuals, OHLC and TWAP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .registry import query


#: Decay anchor: the day after the corpus's last event (TESTDATA events span
#: 2024-01-01..2024-01-30) — a fixed literal so the weight is a pure
#: projection, no global-max pre-pass.
_ANCHOR = "2024-01-31"


@query(
    "events_decayed_engagement",
    oracle=f"""
    SELECT user_id,
           CAST(SUM(CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT)
                    * CAST(FLOOR(1000000 / POWER(2,
                          DATE_DIFF('day', CAST(ts AS DATE), DATE '{_ANCHOR}')))
                      AS BIGINT))
                AS BIGINT) AS decayed_micro,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
    tags=("llm", "events", "decay"),
)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-decayed engagement (half-life = 1 day), the
    recency weighting recommendation/feed pipelines rank with — in integer
    fixed-point so it is engine-exact: weight = floor(1e6 / 2^age_days)
    (dividing the exactly-representable 1e6 by a power of two only shifts
    the float exponent, so FLOOR sees an exact value in both engines) and
    value rides as DECIMAL-derived cents. score_micro = Σ cents·weight as
    BIGINT — no float summation order anywhere.

    Plan: pure projection (age, weight, cents) → one user-keyed partial-agg
    shuffle. Linear at any corpus size."""
    t = load_tables(spark, sf_dir, "events")
    age = F.datediff(F.lit(_ANCHOR).cast("date"), F.to_date("ts"))
    weight = F.floor(
        F.lit(1_000_000) / F.pow(F.lit(2.0), age.cast("double"))
    ).cast("long")
    cents = (F.col("value").cast("decimal(10,2)") * 100).cast("long")
    return (
        t.events.groupBy("user_id")
        .agg(
            F.sum(cents * weight).cast("long").alias("decayed_micro"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "events_rolling_7d_actives",
    oracle="""
    WITH days AS (
      SELECT CAST(ts AS DATE) AS d, user_id FROM events
    ), contrib AS (
      SELECT DISTINCT d + CAST(offs AS INTEGER) AS window_end, user_id
      FROM days, (SELECT unnest(generate_series(0, 6)) AS offs)
    ), span AS (
      SELECT MIN(d) AS d0, MAX(d) AS d1 FROM days
    )
    SELECT CAST(window_end AS TIMESTAMP) AS window_end,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
    FROM contrib, span
    WHERE window_end BETWEEN d0 AND d1
    GROUP BY window_end
    """,
    tags=("llm", "events", "window"),
)
def events_rolling_7d_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the retention/health
    metric every event pipeline reports. COUNT(DISTINCT) over a *sliding*
    window cannot merge partial states, so instead each (day, user) pair is
    exploded to the ≤ 7 window-ends it contributes to (a BOUNDED fan-out —
    7x the daily-distinct relation, never an event self-join) and one
    window_end-keyed distinct count finishes the job. Window-ends outside
    the observed day span are trimmed to match the oracle's bounded frame.

    Plan: map-side (day,user) dedup → ×7 projection explode →
    one (window_end, user)-keyed distinct + count. Linear in events."""
    t = load_tables(spark, sf_dir, "events")
    days = t.events.select(
        F.to_date("ts").alias("d"), F.col("user_id")
    ).distinct()
    span = days.agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    contrib = days.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("offs"),
        F.col("d"),
        F.col("user_id"),
    ).select(F.date_add(F.col("d"), F.col("offs")).alias("window_end"), "user_id")
    return (
        contrib.crossJoin(F.broadcast(span))
        .filter(F.col("window_end").between(F.col("d0"), F.col("d1")))
        .groupBy(F.col("window_end").cast("timestamp").alias("window_end"))
        .agg(F.countDistinct("user_id").cast("long").alias("active_users"))
    )


@query(
    "events_locf_imputation",
    oracle="""
    WITH nulled AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_id % 5 <> 0
                  THEN CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT)
             END AS cents
      FROM events
    ), filled AS (
      SELECT event_id, user_id, (cents IS NULL) AS was_null,
             LAST_VALUE(cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS filled_cents
      FROM nulled
    )
    SELECT event_id, user_id, was_null, filled_cents
    FROM filled ORDER BY event_id
    """,
    tags=("events", "window"),
)
def events_locf_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward imputation per user stream — the
    standard gap-filling rule for sensor/feature values (a missing
    reading inherits the most recent real one; leading NULLs stay NULL
    because inventing a value before the first observation is worse than
    honesty). The corpus has no NULLs, so the query deterministically
    nulls every 5th event (identically in both engines) and must restore
    exactly the carried values — DECIMAL-cents, engine-exact.

    Plan: ONE user-keyed window with last(ignorenulls) over the preceding
    frame — per-user state is one value; same shuffle the sessionizer
    pays. Linear at any event volume."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(10,2)") * 100).cast("long")
    nulled = t.events.select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_id") % 5 != 0, cents).alias("cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        nulled.select(
            "event_id", "user_id",
            F.col("cents").isNull().alias("was_null"),
            F.last("cents", ignorenulls=True).over(w).alias("filled_cents"),
        )
        .orderBy("event_id")
    )


# Round-6 wave 2: engagement curves, order-latency bands, value quartiles,
# k-core peel, weighted sampling
@query(
    "events_dau_mau_stickiness",
    oracle="""
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), dau AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM days GROUP BY d
    ), contrib AS (
      SELECT DISTINCT d + CAST(offs AS INTEGER) AS window_end, user_id
      FROM days, (SELECT unnest(generate_series(0, 27)) AS offs)
    ), mau AS (
      SELECT window_end AS d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM contrib GROUP BY 1
    )
    SELECT CAST(dau.d AS TIMESTAMP) AS day, dau.dau, mau.mau,
           CAST(FLOOR(1000.0 * dau.dau / mau.mau) AS BIGINT)
             AS stickiness_permille
    FROM dau JOIN mau ON mau.d = dau.d
    ORDER BY day
    """,
    tags=("llm", "events", "window"),
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the engagement-health ratio product
    analytics reports next to the active-user curves. MAU uses a trailing
    28-day frame; COUNT(DISTINCT) over a sliding window cannot merge
    partial states, so each (day, user) pair is exploded to the ≤ 28
    window-ends it supports (bounded 28× the daily-distinct relation,
    the events_rolling_7d_actives pattern) and one day-keyed distinct
    count finishes MAU. Days are restricted to observed DAU days (an
    inner join), so no trailing padding appears. Integer permille.

    Plan: map-side (day,user) dedup → one day-keyed count (DAU) + ×28
    projection explode → (day,user)-keyed distinct + count (MAU) → join
    on the ≤ |days| relation. Linear in events; no event self-join."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, "events")
    days = t.events.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    dau = days.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    mau = (
        days.select(
            F.explode(F.sequence(F.lit(0), F.lit(27))).alias("offs"), "d", "user_id"
        )
        .select(F.date_add(F.col("d"), F.col("offs")).alias("d"), "user_id")
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("long").alias("mau"))
    )
    return (
        dau.join(mau, "d")
        .select(
            F.col("d").cast("timestamp").alias("day"),
            "dau",
            "mau",
            F.floor(F.lit(1000.0) * F.col("dau") / F.col("mau"))
            .cast("long")
            .alias("stickiness_permille"),
        )
        .orderBy("day")
    )


@query(
    "events_cumulative_new_users",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events
      GROUP BY user_id
    ), news AS (
      SELECT first_day AS d, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY 1
    )
    SELECT CAST(d AS TIMESTAMP) AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY d) AS BIGINT) AS cum_users
    FROM news ORDER BY day
    """,
    tags=("llm", "events", "window"),
)
def events_cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-user acquisition curve: first-seen day per user, daily new-user
    counts, and the cumulative registration curve. The total-order running
    sum runs over the ≤ |distinct days| relation (a few thousand rows at
    ANY corpus size — the events_day_over_day_growth bound), never over
    users or events; the user-keyed min is an ordinary partial-aggregable
    groupBy. Linear in events."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "events")
    firsts = t.events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d")
    )
    news = firsts.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    return news.select(
        F.col("d").cast("timestamp").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    ).orderBy("day")


@query(
    "events_weekday_seasonality_residual",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ), wd AS (
      SELECT isodow(d) AS dow, SUM(n) AS wd_total,
             CAST(COUNT(*) AS BIGINT) AS wd_days
      FROM daily GROUP BY 1
    )
    SELECT CAST(daily.d AS TIMESTAMP) AS day,
           CAST(isodow(daily.d) AS BIGINT) AS dow,
           daily.n AS n_events,
           CAST(FLOOR(1000.0 * daily.n * wd.wd_days / wd.wd_total) AS BIGINT)
             AS index_permille
    FROM daily JOIN wd ON wd.dow = isodow(daily.d)
    ORDER BY day
    """,
    tags=("llm", "events", "window"),
)
def events_weekday_seasonality_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-weekday seasonal index per day: each day's event count
    against the average for its weekday (1000 = exactly on-trend) — the
    de-seasonalized residual that makes a Tuesday dip visible next to
    the weekend cycle, and the input an alerting rule thresholds instead
    of raw counts. Single-division fixed point (n·days/total) so no
    double rounding.

    Plan: one day-keyed count (map-side partials), a ≤7-row weekday
    baseline, one broadcast join back over the ≤|days| relation. Linear
    in events, constant everything after."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, "events")
    daily = t.events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # Spark weekday(): 0=Mon..6=Sun; +1 == DuckDB isodow (1=Mon..7=Sun)
    dow = (F.weekday(F.col("d")) + 1).cast("long")
    wd = daily.groupBy(dow.alias("dow")).agg(
        F.sum("n").alias("wd_total"), F.count(F.lit(1)).cast("long").alias("wd_days")
    )
    return (
        daily.select(F.col("d"), dow.alias("dow"), "n")
        .join(F.broadcast(wd), "dow")
        .select(
            F.col("d").cast("timestamp").alias("day"),
            "dow",
            F.col("n").alias("n_events"),
            F.floor(
                F.lit(1000.0) * F.col("n") * F.col("wd_days") / F.col("wd_total")
            )
            .cast("long")
            .alias("index_permille"),
        )
        .orderBy("day")
    )


# Hourly OHLC bars (the candlestick rollup every market-data /
# metrics pipeline materializes): per (event_type, hour), the open
# (first value by (ts, event_id)), high, low, close (last), and count.
# Open/close are exact order statistics via two ROW_NUMBER windows with
# a total (ts, event_id) tie-break — no packed-key MIN_BY tricks, no
# floats (values in the rollup-restatement milli fixed-point).
@query(
    "window_ohlc_hourly",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour,
             epoch_us(ts) AS tus, event_id,
             CAST(ROUND(value * 1000, 0) AS BIGINT) AS v
      FROM events
    ),
    ranked AS (
      SELECT event_type, hour, v,
             ROW_NUMBER() OVER (PARTITION BY event_type, hour
                                ORDER BY tus, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, hour
                                ORDER BY tus DESC, event_id DESC) AS rn_d
      FROM base
    )
    SELECT event_type, hour,
           CAST(MAX(CASE WHEN rn_a = 1 THEN v END) AS BIGINT) AS open_milli,
           CAST(MAX(v) AS BIGINT) AS high_milli,
           CAST(MIN(v) AS BIGINT) AS low_milli,
           CAST(MAX(CASE WHEN rn_d = 1 THEN v END) AS BIGINT) AS close_milli,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ranked GROUP BY event_type, hour
    ORDER BY event_type, hour
    """,
    tags=("streaming", "events", "window"),
)
def window_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event type over the value stream. Plan:
    one keyed window pass for the open/close ranks (same partition keys
    as the final aggregate, so the exchange is reused), one hash
    aggregate — the shape a streaming sink would maintain
    incrementally (high/low/count merge; open/close carry their
    (ts, event_id) key)."""
    ev = load_tables(spark, sf_dir, "events").events.select(
        "event_type",
        F.expr("CAST(unix_micros(ts) div 3600000000 AS BIGINT)").alias("hour"),
        F.unix_micros("ts").alias("tus"),
        "event_id",
        F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("v"),
    )
    wa = Window.partitionBy("event_type", "hour").orderBy("tus", "event_id")
    wd = Window.partitionBy("event_type", "hour").orderBy(
        F.desc("tus"), F.desc("event_id")
    )
    ranked = ev.select(
        "event_type",
        "hour",
        "v",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        ranked.groupBy("event_type", "hour")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("v")))
            .cast("long")
            .alias("open_milli"),
            F.max("v").cast("long").alias("high_milli"),
            F.min("v").cast("long").alias("low_milli"),
            F.max(F.when(F.col("rn_d") == 1, F.col("v")))
            .cast("long")
            .alias("close_milli"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("event_type", "hour")
    )


# Time-weighted average value (TWAP — the standard fix for irregular
# sampling: a value that persists 10 hours must weigh 10× one that
# persisted a minute; arithmetic means over event rows are wrong the
# moment arrival is bursty). Piecewise-constant integral between
# consecutive events: Σ v_i·(t_{i+1}-t_i) / (t_last - t_first), all
# exact integers (milli values × microsecond gaps; the numerator is
# bounded by max_v·span, not by the row count, so BIGINT holds at any
# event volume).
@query(
    "events_twap_by_type",
    oracle="""
    WITH seq AS (
      SELECT event_type, epoch_us(ts) AS tus, event_id,
             CAST(ROUND(value * 1000, 0) AS BIGINT) AS v
      FROM events
    ),
    gaps AS (
      SELECT event_type, v,
             LEAD(tus) OVER (PARTITION BY event_type
                             ORDER BY tus, event_id) - tus AS dt
      FROM seq
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(dt) AS BIGINT) AS span_us,
           CAST(SUM(v * dt) // SUM(dt) AS BIGINT) AS twap_milli,
           CAST(SUM(v) // COUNT(*) AS BIGINT) AS naive_mean_milli
    FROM gaps WHERE dt IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "events", "window"),
)
def events_twap_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (milli — micro would
    overflow the segment-weighted numerator's BIGINT headroom), beside the
    naive row mean it corrects — the gap between the two measures how
    bursty the arrivals are. One keyed LEAD window, one aggregate,
    exact integers end-to-end (segment-weighted sum bounded by
    max_value·time_span, volume-independent)."""
    ev = load_tables(spark, sf_dir, "events").events.select(
        "event_type",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("v"),
    )
    w = Window.partitionBy("event_type").orderBy("tus", "event_id")
    gaps = ev.select(
        "event_type",
        "v",
        (F.lead("tus").over(w) - F.col("tus")).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum("dt").cast("long").alias("span_us"),
            idiv_col(
                F.sum(F.col("v") * F.col("dt")), F.sum("dt")
            ).alias("twap_milli"),
            idiv_col(F.sum("v"), F.count(F.lit(1))).alias(
                "naive_mean_milli"
            ),
        )
        .orderBy("event_type")
    )
