"""Events profiling queries: incremental profile merge, heatmaps, bursts,
growth, activity histograms, streaks and bitmasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_tables
from .registry import query


@query(
    "profile_incremental_merge",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS s1,
           CAST(SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS BIGINT) AS s2,
           CAST(MIN(n_chars) AS BIGINT) AS mn,
           CAST(MAX(n_chars) AS BIGINT) AS mx,
           CAST((SUM(CAST(n_chars AS BIGINT)) * 1000000)
                // COUNT(*) AS BIGINT) AS mean_micro,
           CAST(((COUNT(*) * SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
                  - SUM(CAST(n_chars AS BIGINT)) * SUM(CAST(n_chars AS BIGINT)))
                 * 1000000) // (COUNT(*) * COUNT(*)) AS BIGINT) AS var_micro
    FROM documents GROUP BY source ORDER BY source""",
    tags=("llm", "profile"),
)
def profile_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental profiling via mergeable moments (operators/stats.py):
    the corpus is profiled as TWO independent ingest waves (hash-split
    halves), each reduced to per-source sufficient statistics
    (n, Σv, Σv², min, max — exact BIGINTs), then MERGED — never
    re-scanning wave 1 — and the derived mean/variance come out of
    integer formulas. The oracle computes the same stats DIRECTLY over
    the whole corpus: the driver hash therefore proves merge == direct,
    the invariant that lets a 100 TB ingest keep running profiles at
    per-batch cost."""
    from ..operators.stats import derive_stats, merge_moments, moment_stats

    docs = load_tables(spark, sf_dir, "documents").documents
    wave1 = docs.filter(F.col("doc_id") % 2 == 0)
    wave2 = docs.filter(F.col("doc_id") % 2 == 1)
    p1 = moment_stats(wave1, "n_chars", ["source"])
    p2 = moment_stats(wave2, "n_chars", ["source"])
    merged = merge_moments(p1, p2, group_cols=["source"])
    return derive_stats(merged)


@query(
    "events_weekday_hour_heatmap",
    oracle="""
    SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM events GROUP BY 1, 2 ORDER BY dow, hour
    """,
    tags=("events", "profile"),
)
def events_weekday_hour_heatmap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekday × hour activity grid (counts + DECIMAL-cents value) — the
    ops heatmap behind capacity planning and anomaly baselines ("is
    Tuesday 14:00 usually this quiet?"). Engine convention pinned
    explicitly: Spark ``dayofweek`` is 1=Sunday, DuckDB's is 0=Sunday, so
    the oracle shifts by one rather than trusting a name collision.

    Plan: pure projection → one (dow, hour)-keyed partial-agg shuffle
    whose exchange carries ≤ 168 × partitions rows. Linear always."""
    t = load_tables(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(10,2)") * 100).cast("long")
    return (
        t.events.groupBy(
            F.dayofweek("ts").cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents).cast("long").alias("cents"),
        )
        .orderBy("dow", "hour")
    )


@query(
    "events_error_burst_detect",
    oracle="""
    WITH b AS (
      SELECT event_type,
             epoch_us(ts) // 900000000 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), roll AS (
      SELECT event_type, bucket,
             CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bucket
                               RANGE BETWEEN 3 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_1h
      FROM b
    )
    SELECT event_type,
           CAST(MAX(n_1h) AS BIGINT) AS peak_1h_events,
           CAST(MIN(CASE WHEN n_1h = mx THEN bucket END) AS BIGINT)
             AS peak_bucket
    FROM (SELECT *, MAX(n_1h) OVER (PARTITION BY event_type) AS mx FROM roll)
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "profile"),
)
def events_error_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection per event type: the busiest sliding hour (as four
    15-minute buckets via a RANGE window over the integer bucket index —
    so empty buckets correctly do NOT extend the window) and when it
    happened. The alerting baseline behind "errors are bursting" — run
    over every type so error peaks read against the traffic peak.
    Deterministic: the earliest peak bucket wins ties.

    Plan: one (type, bucket)-keyed count (map-side partial), one
    type-keyed RANGE window over ≤ |buckets| aggregated rows per type —
    window population is bucket count (time-bounded), never event count —
    then a ≤ |types|-row agg. Linear in events, constant in state."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "events")
    # floor(), not cast-to-long (truncate toward zero): the oracle's DuckDB
    # // floors, and the two disagree on pre-1970 timestamps (r5 ADVICE).
    bucket = F.floor(F.unix_micros(F.col("ts")) / F.lit(900_000_000)).cast("long")
    b = t.events.groupBy(
        "event_type", bucket.alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        W.partitionBy("event_type")
        .orderBy("bucket")
        .rangeBetween(-3, W.currentRow)
    )
    roll = b.select(
        "event_type", "bucket", F.sum("n").over(w).alias("n_1h")
    )
    mx = F.max("n_1h").over(W.partitionBy("event_type"))
    return (
        roll.withColumn("mx", mx)
        .groupBy("event_type")
        .agg(
            F.max("n_1h").cast("long").alias("peak_1h_events"),
            F.min(
                F.when(F.col("n_1h") == F.col("mx"), F.col("bucket"))
            ).cast("long").alias("peak_bucket"),
        )
        .orderBy("event_type")
    )


@query(
    "events_day_over_day_growth",
    oracle="""
    WITH m AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1
    )
    SELECT day, n_events, cents,
           CAST(FLOOR(1000.0 * (n_events - LAG(n_events) OVER w)
                      / LAG(n_events) OVER w) AS BIGINT)
             AS events_dod_permille,
           CAST(FLOOR(1000.0 * (cents - LAG(cents) OVER w)
                      / LAG(cents) OVER w) AS BIGINT) AS value_dod_permille
    FROM m WINDOW w AS (ORDER BY day) ORDER BY day
    """,
    tags=("events", "profile"),
)
def events_day_over_day_growth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Day-over-day growth of event volume and value (permille deltas,
    NULL for the first day) — the BI staple on every ops dashboard. The
    daily grain is the one with real deltas on this table's one-month
    span; the identical shape runs at any calendar grain. The LAG window
    runs over DAYS — an already-aggregated relation of ≤ |days| rows — so
    the single-partition window is geometry-bounded (dates, not events),
    the one place a total order is genuinely free.

    Plan: one day-keyed partial agg (map-side combine), then the tiny
    day-ordered window. Integer cents, floor-permille deltas —
    engine-exact including the negative-growth floor direction (FLOOR is
    toward −∞ in both engines)."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(10,2)") * 100).cast("long")
    m = t.events.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(cents).cast("long").alias("cents"),
    )
    w = W.orderBy("day")
    dod = lambda c: F.floor(  # noqa: E731
        1000.0 * (F.col(c) - F.lag(c).over(w)) / F.lag(c).over(w)
    ).cast("long")
    return m.select(
        "day", "n_events", "cents",
        dod("n_events").alias("events_dod_permille"),
        dod("cents").alias("value_dod_permille"),
    ).orderBy("day")


@query(
    "events_user_activity_histogram",
    oracle="""
    WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k
               FROM events GROUP BY user_id)
    SELECT k AS events_per_user, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM u GROUP BY k ORDER BY k
    """,
    tags=("events", "profile"),
)
def events_user_activity_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-of-counts activity histogram: how many users produced exactly
    k events — the degree-distribution read behind power-law checks, bot
    screens (an impossible spike at one k), and per-user state sizing for
    streaming jobs. Two shrinking keyed aggs (events → users → distinct
    activity levels); each successive exchange is strictly smaller."""
    t = load_tables(spark, sf_dir, "events")
    u = t.events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    return (
        u.groupBy(F.col("k").alias("events_per_user"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("events_per_user")
    )


@query(
    "events_longest_daily_streak",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), isl AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY day) AS INT)
               AS island
      FROM d
    ), runs AS (
      SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len,
             MIN(day) AS streak_start
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           MAX(len) AS longest_streak_days,
           strftime(MIN(CASE WHEN len = mx THEN streak_start END),
                    '%Y-%m-%d') AS streak_start
    FROM (SELECT *, MAX(len) OVER (PARTITION BY user_id) AS mx FROM runs)
    GROUP BY user_id ORDER BY user_id
    """,
    tags=("events", "profile"),
)
def events_longest_daily_streak(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands shape (day − row_number = constant within an
    unbroken run), the engagement metric behind every 'N-day streak'
    product surface. Deterministic: ties between equal-length streaks
    resolve to the earliest start.

    Plan: distinct (user, day) — already a tiny relation (≤ users × days)
    — then ONE user-keyed window for the island key and two shrinking
    keyed aggs. The windows ride per-user day counts, never event
    counts."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "events")
    d = t.events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    isl = d.select(
        "user_id", "day",
        F.date_sub("day", F.row_number().over(w)).alias("island"),
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("day").alias("streak_start"),
    )
    mx = F.max("len").over(W.partitionBy("user_id"))
    return (
        runs.withColumn("mx", mx)
        .groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak_days"),
            F.date_format(
                F.min(F.when(F.col("len") == F.col("mx"), F.col("streak_start"))),
                "yyyy-MM-dd",
            ).alias("streak_start"),
        )
        .orderBy("user_id")
    )


@query(
    "events_changepoint_cusum",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    tot AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type
    ),
    cusum AS (
      SELECT d.event_type, d.day,
             CAST(SUM(d.n * t.n_days - t.total) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS s
      FROM daily d JOIN tot t USING (event_type)
    ),
    mx AS (
      SELECT event_type, day, s, abs(s) AS a,
             MAX(abs(s)) OVER (PARTITION BY event_type) AS amax
      FROM cusum
    )
    SELECT event_type,
           strftime(MIN(CASE WHEN a = amax THEN day END), '%Y-%m-%d')
             AS changepoint_day,
           CAST(MAX(amax) AS BIGINT) AS max_abs_cusum,
           CAST(arg_min(CASE WHEN a = amax THEN CASE WHEN s > 0 THEN 1
                  WHEN s < 0 THEN -1 ELSE 0 END END,
                CASE WHEN a = amax THEN day END) AS BIGINT) AS direction
    FROM mx GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "profile"),
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type (Page 1954): daily
    counts, cumulative sum of deviations from the series mean, and the
    day where |CUSUM| peaks — the classic level-shift locator. Exact
    integer arithmetic throughout: deviations are scaled by the day
    count (n·D − total, an integer) instead of subtracting a float mean,
    so the running sum, its argmax, and the direction sign are
    hash-stable in every engine. Earliest peak day wins ties, and the
    reported direction is the sign AT that same earliest-peak row
    (min_by/arg_min over peak rows — r8 ADVICE: MAX(sign) over all peak
    days could describe a different day than the reported one).

    Plan: one (type, day) aggregation, a per-type totals join, one
    type-keyed ordered window over the DAYS dimension (bounded by the
    calendar, not event volume), and a 5-row rollup."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "events")
    daily = t.events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = daily.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "day",
            F.sum(F.col("n") * F.col("n_days") - F.col("total"))
            .over(w)
            .cast("long")
            .alias("s"),
        )
    )
    wa = Window.partitionBy("event_type")
    mx = cusum.select(
        "event_type",
        "day",
        "s",
        F.abs("s").alias("a"),
        F.max(F.abs("s")).over(wa).alias("amax"),
    )
    at_peak = F.when(F.col("a") == F.col("amax"), F.col("day"))
    sgn = F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    return (
        mx.groupBy("event_type")
        .agg(
            F.date_format(F.min(at_peak), "yyyy-MM-dd").alias(
                "changepoint_day"
            ),
            F.max("amax").cast("long").alias("max_abs_cusum"),
            F.min_by(
                F.when(F.col("a") == F.col("amax"), sgn), at_peak
            ).cast("long").alias("direction"),
        )
        .orderBy("event_type")
    )


# Per-user day-activity bitmap (the bitmap-index / roaring technique
# behind retention systems — Chambi et al., "Better bitmap performance
# with Roaring bitmaps", SPE 2016, here in its single-word form): one
# BIGINT carries a user's active days as bits offset from the corpus'
# first day. Popcount gives active days; the LONGEST consecutive run
# falls out of the classic bit-smearing identity — iterate
# m ← m & (m<<1); the number of iterations before m reaches 0 is the
# longest run of 1s — unrolled to the word width as plain integer
# expressions on both engines. The pin proves this bit algorithm
# EQUALS the gaps-and-islands answer (events_longest_daily_streak) on
# every user — same semantic, two disjoint algorithms.

#: bitmap capacity: day offsets beyond this are dropped (fixture spans
#: 30 days; a production system shards masks per 62-day epoch).
_BM_BITS = 62


_BM_MAX_RUN = 31


def _build_bitmask_oracle() -> str:
    steps = []
    for k in range(1, _BM_MAX_RUN + 1):
        steps.append(f"""
    s{k} AS (
      SELECT user_id, day_mask, n_active_days,
             m & (m * 2) AS m,
             streak + (CASE WHEN m <> 0 THEN 1 ELSE 0 END) AS streak
      FROM s{k - 1}
    )""")
    return f"""
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS DATE)
                  - (SELECT MIN(CAST(ts AS DATE)) FROM events) AS BIGINT)
               AS off
      FROM events
    ),
    masks AS (
      SELECT user_id,
             CAST(SUM(CAST(1 AS BIGINT) << off) AS BIGINT) AS day_mask,
             CAST(COUNT(*) AS BIGINT) AS n_active_days
      FROM d WHERE off < {_BM_BITS} GROUP BY user_id
    ),
    s0 AS (
      SELECT user_id, day_mask, n_active_days, day_mask AS m,
             CAST(0 AS BIGINT) AS streak
      FROM masks
    ),
    {",".join(steps)}
    SELECT user_id, day_mask, n_active_days,
           CAST(streak AS BIGINT) AS longest_streak_days
    FROM s{_BM_MAX_RUN} ORDER BY user_id
    """


@query(
    "events_user_day_bitmask",
    oracle=_build_bitmask_oracle(),
    tags=("events", "profile"),
)
def events_user_day_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-word day-activity bitmap per user: the mask itself,
    popcount (active days), and the longest consecutive-day streak via
    the m & (m<<1) smearing identity — integer bit arithmetic only, no
    windows after the mask aggregate. Distinct (user, day) offsets sum
    disjoint powers of two, so SUM == BIT_OR (engine-portable without a
    bitwise aggregate). The streak answer is pinned equal to the
    gaps-and-islands formulation on every user."""
    ev = load_tables(spark, sf_dir, "events").events
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    d = (
        ev.crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.col("d0")).cast("long").alias("off"),
        )
        .filter(F.col("off") < _BM_BITS)
        .distinct()
    )
    masks = d.groupBy("user_id").agg(
        F.sum(F.expr("CAST(1 AS BIGINT) << CAST(off AS INT)"))
        .cast("long")
        .alias("day_mask"),
        F.count(F.lit(1)).cast("long").alias("n_active_days"),
    )
    cur = masks.select(
        "user_id",
        "day_mask",
        "n_active_days",
        F.col("day_mask").alias("m"),
        F.lit(0).cast("long").alias("streak"),
    )
    for _k in range(_BM_MAX_RUN):
        cur = cur.select(
            "user_id",
            "day_mask",
            "n_active_days",
            F.expr("m & (m * 2)").alias("m"),
            (
                F.col("streak")
                + F.when(F.col("m") != 0, 1).otherwise(0)
            ).alias("streak"),
        )
    return cur.select(
        "user_id",
        "day_mask",
        "n_active_days",
        F.col("streak").cast("long").alias("longest_streak_days"),
    ).orderBy("user_id")
