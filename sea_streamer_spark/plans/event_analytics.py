"""Events-table product analytics: funnels, cohorts, key skew, pattern
matching, gap-fill, restatement rollups, attribution, RFM and sessions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_tables
from .registry import query


@query(
    "events_funnel_stages",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM events GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN u USING (user_id)
      WHERE e.event_type = 'click' AND u.t_view IS NOT NULL
        AND e.ts > u.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT u.user_id,
           CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                     WHEN c.t_click IS NOT NULL THEN 2
                     WHEN u.t_view IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS funnel_stage
    FROM u LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    ORDER BY user_id""",
    tags=("llm", "events"),
)
def events_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis per user (view -> first click AFTER that
    view -> first purchase AFTER that click — order matters, not mere
    presence): three stacked conditional-min window expressions over ONE
    user-keyed partitioning, so the whole funnel costs a single shuffle
    at any event volume. funnel_stage = deepest stage reached (0-3)."""
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, "events").events.select(
        "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & F.col("t_view").isNotNull()
                    & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & F.col("t_click").isNotNull()
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    stage = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        staged.select("user_id", stage.cast("long").alias("funnel_stage"))
        .distinct()
    )


# Cohort retention + key-skew profile (events analytics block)
_DAY_US = 86_400_000_000


@query(
    "events_cohort_retention",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day FROM events
    ), cohort AS (
      SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
    )
    SELECT c.cohort_day,
           d.day - c.cohort_day AS offset_days,
           CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS n_users
    FROM days d JOIN cohort c USING (user_id)
    GROUP BY c.cohort_day, offset_days
    ORDER BY c.cohort_day, offset_days
    """,
    tags=("streaming", "events"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (the activation/retention report every
    product-analytics pipeline runs): users cohorted by first-active epoch
    day, activity re-expressed as day offsets from the cohort day. Days are
    exact integer epoch-day quotients (UTC), so the matrix is
    engine-exact. Plan: one distinct on (user, day) — volume bounded by
    users x days, not events — one user-keyed min, a user-keyed join back,
    and the final (cohort, offset)-keyed count; every shuffle keys on
    bounded-cardinality relations."""
    t = load_tables(spark, sf_dir, "events")
    days = t.events.select(
        "user_id",
        F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"),
    ).distinct()
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(cohort, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("offset_days"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .orderBy("cohort_day", "offset_days")
    )


@query(
    "profile_key_skew",
    oracle="""
    WITH kc AS (
      SELECT event_type, user_id, COUNT(*) AS n
      FROM events GROUP BY event_type, user_id
    ), ranked AS (
      SELECT event_type, n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY n, user_id) AS i,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY n DESC, user_id) AS ri
      FROM kc
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_rows,
           CAST(SUM(CASE WHEN ri <= 5 THEN n ELSE 0 END) * 1000 // SUM(n)
                AS BIGINT) AS top5_share_permille,
           CAST((2 * SUM(i * n) - (COUNT(*) + 1) * SUM(n)) * 1000000
                // (COUNT(*) * SUM(n)) AS BIGINT) AS gini_micro
    FROM ranked
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "events"),
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics (what you run BEFORE picking a partitioning /
    salting strategy — the measurement side of `join_skew_salted`): per
    event type, the per-key row counts summarized as max, top-5 share, and
    an exact fixed-point Gini coefficient (the standard skew index,
    ``(2·Σi·x_i − (n+1)·Σx)/(n·Σx)`` over ascending counts — all BIGINT,
    and invariant to tie order because equal counts contribute equally
    under any permutation of their contiguous rank block). Plan: one
    (type,key) count shuffle, one type-keyed window over the KEY relation
    (bounded by key cardinality, not row count), one final aggregate."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "events")
    kc = t.events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    wa = Window.partitionBy("event_type").orderBy("n", "user_id")
    wd = Window.partitionBy("event_type").orderBy(F.col("n").desc(), "user_id")
    ranked = kc.select(
        "event_type",
        "n",
        F.row_number().over(wa).alias("i"),
        F.row_number().over(wd).alias("ri"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("n").cast("long").alias("n_rows"),
            F.max("n").cast("long").alias("max_rows"),
            F.expr(
                "CAST(SUM(CASE WHEN ri <= 5 THEN n ELSE 0 END) * 1000"
                " div SUM(n) AS BIGINT)"
            ).alias("top5_share_permille"),
            F.expr(
                "CAST((2 * SUM(i * n) - (COUNT(1) + 1) * SUM(n)) * 1000000"
                " div (COUNT(1) * SUM(n)) AS BIGINT)"
            ).alias("gini_micro"),
        )
        .orderBy("event_type")
    )


# CEP-style sequence pattern matching + time-series gap fill

#: Event sequence pattern (MATCH_RECOGNIZE-lite): one or more views, then
#: one or more clicks, then a purchase — encoded over the per-user event
#: string (first letter of each type: e/v/c/s/p are distinct). The regex is
#: alternation-free and anchored only by adjacency, so Java's
#: leftmost-greedy and RE2's leftmost matching produce identical
#: non-overlapping match sets.
_CEP_PATTERN = "v+c+p"


@query(
    "events_pattern_match",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS s
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(s, '{_CEP_PATTERN}')) AS BIGINT)
             AS n_matches,
           CAST(COALESCE(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(regexp_extract_all(s, '{_CEP_PATTERN}'),
                                 m -> CAST(length(m) AS BIGINT))),
                  (a, b) -> a + b), 0) AS BIGINT) AS matched_chars
    FROM seq
    ORDER BY user_id
    """,
    tags=("streaming", "events"),
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern detection (the MATCH_RECOGNIZE
    analog Spark lacks): each user's event history becomes a character
    sequence (one char per event, (ts, event_id)-ordered), and the
    behavioral pattern ``view+ click+ purchase`` is a REGEX over that
    string — pattern counts and matched extents fall out of
    regexp_extract_all with zero iterative logic. Plan: ONE user-keyed
    aggregate builds the sequences (positional array_sort inside the
    aggregate — no global sort); the regex scan is a pure projection over
    the user relation (bounded by users, not events). The
    sequence-as-string trick is the scalable CEP encoding: state per user
    is one string, and any Kleene pattern the Java∩RE2 dialect supports
    works unchanged."""
    t = load_tables(spark, sf_dir, "events")
    seq = (
        t.events.select(
            "user_id",
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c")).alias(
                "e"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("e")), lambda s: s["c"]),
                "",
            ).alias("s")
        )
    )
    matches = F.regexp_extract_all(F.col("s"), F.lit(_CEP_PATTERN), F.lit(0))
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("seq_len"),
        F.size(matches).cast("long").alias("n_matches"),
        F.aggregate(
            matches,
            F.lit(0).cast("long"),
            lambda acc, m: acc + F.length(m).cast("long"),
        ).alias("matched_chars"),
    ).orderBy("user_id")


_Q15 = 900_000_000  # 15 minutes in microseconds


@query(
    "events_gapfill_15m",
    oracle=f"""
    WITH b AS (
      SELECT event_type, epoch_us(ts) // {_Q15} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS revenue
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b
      GROUP BY event_type
    ), grid AS (
      SELECT bounds.event_type, unnest(generate_series(lo, hi)) AS bucket
      FROM bounds
    )
    SELECT g.event_type, g.bucket,
           CAST(COALESCE(b.n, 0) AS BIGINT) AS n,
           CAST(b.n IS NULL AS BIGINT) AS filled,
           last_value(b.revenue IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue_locf
    FROM grid g LEFT JOIN b ON b.event_type = g.event_type
                           AND b.bucket = g.bucket
    ORDER BY g.event_type, g.bucket
    """,
    tags=("streaming", "events"),
)
def events_gapfill_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with last-observation-carried-forward (the
    TimescaleDB ``time_bucket_gapfill``/``locf`` analog, the read-side
    companion of the hypertable rollup): purchase revenue per 15-minute
    bucket (exact DECIMAL sums ⇒ order-independent), a dense bucket grid
    synthesized per type via sequence-explode (volume = time range /
    bucket width, independent of event count), empty buckets flagged and
    their revenue carried forward by an ignore-nulls window. Plan: one
    (type, bucket) aggregate over the filtered scan, a two-row bounds
    aggregate, the grid explode map-side, one type-keyed window."""
    t = load_tables(spark, sf_dir, "events")
    from pyspark.sql import Window

    b = (
        t.events.filter(F.col("event_type") == "purchase")
        .groupBy(
            "event_type",
            F.expr(f"unix_micros(ts) div {_Q15}").alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    bounds = b.groupBy("event_type").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("bucket"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(b, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
            F.col("n").isNull().cast("long").alias("filled"),
            F.last("revenue", ignorenulls=True).over(w).alias("revenue_locf"),
        )
        .orderBy("event_type", "bucket")
    )


# Incremental rollup restatement (late-data partition recompute)
_HR_US = 3_600_000_000


@query(
    "rollup_incremental_restatement",
    oracle=f"""
    SELECT event_type,
           epoch_us(ts) // {_HR_US} AS hour,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_micro,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("streaming", "events"),
)
def rollup_incremental_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data rollup restatement (the incremental-ETL pattern: a
    landed hourly rollup + a late-arriving delta → recompute ONLY the
    hours the delta touches, keep every other hour's row untouched).
    Needed because `n_users` (exact distinct) is NOT mergeable from
    aggregates — the restated hours re-aggregate from base∪delta, which
    is why production rollups keep the base partitioned by hour: the
    recompute reads only the touched partitions (cf. layout/manifest
    pruning). Here base = 99% of events, delta = the scattered 1%
    (event_id % 97 == 0 — guaranteed late rows into already-landed
    hours); the oracle is the FULL rebuild, so the driver hash proves
    restatement == rebuild including the distinct counts. Value sums are
    micro-fixed-point BIGINTs (order-free)."""
    ev = load_tables(spark, sf_dir, "events").events.select(
        "event_id",
        "event_type",
        "user_id",
        F.expr(f"unix_micros(ts) div {_HR_US}").alias("hour"),
        # explicit ROUND: bare CAST(double AS BIGINT) truncates on Spark but
        # ROUNDS on DuckDB — *1e6 lands on the x.9999 side for 2-decimal
        # values and the two casts split (caught by the strict sweep)
        F.expr("CAST(ROUND(value * 1000000, 0) AS BIGINT)").alias("v_micro"),
    )
    base = ev.filter(F.col("event_id") % 97 != 0)
    delta = ev.filter(F.col("event_id") % 97 == 0)

    def rollup(df):
        return df.groupBy("event_type", "hour").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v_micro").cast("long").alias("sum_micro"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )

    prev = rollup(base)  # the "landed" rollup
    touched = delta.select("event_type", "hour").distinct()
    # recompute touched (type, hour) cells from base ∪ delta — at scale the
    # base side is partition-pruned to exactly these hours
    restated = rollup(
        base.unionByName(delta).join(touched, ["event_type", "hour"])
    )
    untouched = prev.join(touched, ["event_type", "hour"], "left_anti")
    return untouched.unionByName(restated).orderBy("event_type", "hour")


@query(
    "events_last_touch_attribution",
    oracle="""
    WITH touched AS (
      SELECT event_id, user_id, ts, event_type,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts END
                        IGNORE NULLS)
               OVER w AS touch_ts,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type
                        END IGNORE NULLS)
               OVER w AS touch_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    attributed AS (
      SELECT CASE WHEN touch_ts IS NOT NULL
                       AND touch_ts >= ts - INTERVAL 7 DAY
                  THEN touch_type ELSE 'direct' END AS attributed_type,
             user_id
      FROM touched WHERE event_type = 'purchase'
    )
    SELECT attributed_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM attributed GROUP BY attributed_type ORDER BY attributed_type
    """,
    tags=("llm", "events"),
)
def events_last_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch conversion attribution: each purchase is credited to the
    user's most recent NON-purchase event within the preceding 7 days
    ('direct' when none) — the canonical funnel-credit query every
    events warehouse runs. Deterministic: the event order is (ts,
    event_id), so same-timestamp events attribute identically in any
    engine.

    Plan: one user-keyed window shuffle computes the last-preceding-touch
    (ts, type) pair — ``last(when(...), ignorenulls=True)`` over a
    1-preceding frame, two columns from the SAME row because the CASE
    condition drives both nullities — then a purchase filter and one
    attributed-type-keyed agg whose exchange carries ≤ |event types| ×
    partitions rows. Per-user event counts bound the window state; no
    self-join, no driver collection."""
    t = load_tables(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    not_purchase = F.col("event_type") != "purchase"
    touch_ts = F.last(
        F.when(not_purchase, F.col("ts")), ignorenulls=True
    ).over(w)
    touch_type = F.last(
        F.when(not_purchase, F.col("event_type")), ignorenulls=True
    ).over(w)
    touched = t.events.select(
        "event_id", "user_id", "ts", "event_type",
        touch_ts.alias("touch_ts"), touch_type.alias("touch_type"),
    ).filter(F.col("event_type") == "purchase")
    attributed = touched.select(
        F.when(
            F.col("touch_ts").isNotNull()
            & (F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAY")),
            F.col("touch_type"),
        ).otherwise(F.lit("direct")).alias("attributed_type"),
        "user_id",
    )
    return (
        attributed.groupBy("attributed_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("attributed_type")
    )


#: Fixed RFM banding thresholds (recency days / per-user event count /
#: lifetime cents). Chosen against the stable cross-sf distributions of
#: the events table (frequency quartiles ~60/72, monetary ~2900/3700
#: dollars, recency 1-3 days at every sf) so all three digits split at
#: the gate scales. Fixed business-rule bands — NOT global quantiles —
#: are deliberate: a global NTILE needs a total order (one-partition
#: window, the exact anti-pattern the distributed fuse order replaced),
#: while threshold banding is a pure projection at any corpus size.
_RFM_ANCHOR = "2024-01-31"


_R_BANDS = (1, 2)          # days: <=1 -> 3, <=2 -> 2, else 1


_F_BANDS = (72, 60)        # events: >=72 -> 3, >=60 -> 2, else 1


_M_BANDS = (365_000, 290_000)  # cents: >=365k -> 3, >=290k -> 2, else 1


@query(
    "events_rfm_segments",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             DATE_DIFF('day', CAST(MAX(ts) AS DATE), DATE '{_RFM_ANCHOR}')
               AS r_days,
             COUNT(*) AS freq,
             SUM(CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT))
               AS cents
      FROM events GROUP BY user_id
    ), s AS (
      SELECT CASE WHEN r_days <= {_R_BANDS[0]} THEN 3
                  WHEN r_days <= {_R_BANDS[1]} THEN 2 ELSE 1 END AS r,
             CASE WHEN freq >= {_F_BANDS[0]} THEN 3
                  WHEN freq >= {_F_BANDS[1]} THEN 2 ELSE 1 END AS f,
             CASE WHEN cents >= {_M_BANDS[0]} THEN 3
                  WHEN cents >= {_M_BANDS[1]} THEN 2 ELSE 1 END AS m,
             cents
      FROM u
    )
    SELECT 'R' || r || 'F' || f || 'M' || m AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM s GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "events"),
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary), the
    warehouse-analytics staple: band every user 1-3 on each axis against
    fixed business thresholds and report segment populations + value.
    Monetary rides as DECIMAL-derived integer cents (the
    events_decayed_engagement pattern) so sums are order-independent and
    engine-exact.

    Plan: one user-keyed partial-agg shuffle (max ts / count / cents sum
    combine map-side), banding as a pure projection, then one
    segment-keyed agg whose exchange carries <= 27 x partitions rows.
    Linear at any corpus size; no window, no quantile pre-pass."""
    t = load_tables(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(10,2)") * 100).cast("long")
    u = t.events.groupBy("user_id").agg(
        F.datediff(
            F.lit(_RFM_ANCHOR).cast("date"), F.to_date(F.max("ts"))
        ).alias("r_days"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(cents).alias("cents"),
    )
    band = lambda c, hi, mid: (  # noqa: E731
        F.when(c >= hi, 3).when(c >= mid, 2).otherwise(1)
        if hi > mid
        else F.when(c <= hi, 3).when(c <= mid, 2).otherwise(1)
    )
    s = u.select(
        band(F.col("r_days"), *_R_BANDS).alias("r"),
        band(F.col("freq"), *_F_BANDS).alias("f"),
        band(F.col("cents"), *_M_BANDS).alias("m"),
        "cents",
    )
    return (
        s.select(
            F.concat(
                F.lit("R"), F.col("r").cast("string"),
                F.lit("F"), F.col("f").cast("string"),
                F.lit("M"), F.col("m").cast("string"),
            ).alias("segment"),
            "cents",
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("segment")
    )


@query(
    "events_sessions_bounce_rate",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                          > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM g
    ), sess AS (
      SELECT user_id, session_idx, COUNT(*) AS n_events,
             strftime(CAST(MIN(ts) AS DATE), '%Y-%m-%d') AS day
      FROM s GROUP BY user_id, session_idx
    )
    SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounce,
           CAST(FLOOR(1000.0 * SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0
                                   END) / COUNT(*)) AS BIGINT)
             AS bounce_permille
    FROM sess GROUP BY day ORDER BY day
    """,
    tags=("llm", "events"),
)
def events_sessions_bounce_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily bounce rate: the share of 30-minute-gap sessions that contain
    exactly one event, by session-start day — the engagement-health
    metric read next to DAU. Reuses the registered sessionization shape
    (gap flag + running sum over one user-keyed window), then two
    shrinking keyed aggs (events → sessions → days).

    Plan: one user-keyed window shuffle, one (user, session)-keyed agg,
    one day-keyed agg whose exchange carries ≤ |days| × partitions rows.
    Same scale posture as sessionize_events; the permille is integer
    fixed-point."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.lag("ts").over(w)
    )
    new_sess = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1
    ).otherwise(0)
    s = t.events.select(
        "user_id", "ts",
        F.sum(new_sess).over(
            W.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("session_idx"),
    )
    sess = s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd").alias("day"),
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (
        sess.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            bounce.cast("long").alias("n_bounce"),
            F.floor(1000.0 * bounce / F.count(F.lit(1)))
            .cast("long")
            .alias("bounce_permille"),
        )
        .orderBy("day")
    )


@query(
    "events_interarrival_histogram",
    oracle="""
    WITH g AS (
      SELECT epoch_us(ts) - epoch_us(LAG(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT CASE WHEN gap_us < 3600000000 THEN '0_lt_1h'
                WHEN gap_us < 21600000000 THEN '1_1h_6h'
                WHEN gap_us < 86400000000 THEN '2_6h_24h'
                ELSE '3_ge_24h' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n_gaps
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY band ORDER BY band
    """,
    tags=("llm", "events"),
)
def events_interarrival_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user inter-event gap histogram — the distribution read BEFORE
    choosing a session gap or a streaming watermark (the 30-minute
    session cut and the state-TTL both live or die by where this mass
    sits). Bands are microsecond-exact integer comparisons, so the
    histogram is engine-exact.

    Plan: one user-keyed LAG window, then a 4-row keyed agg. Linear; the
    window state per user is one row."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    g = F.col("gap_us")
    band = (
        F.when(g < 3_600_000_000, "0_lt_1h")
        .when(g < 21_600_000_000, "1_1h_6h")
        .when(g < 86_400_000_000, "2_6h_24h")
        .otherwise("3_ge_24h")
    )
    return (
        t.events.select(gap.alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
        .select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_gaps"))
        .orderBy("band")
    )
