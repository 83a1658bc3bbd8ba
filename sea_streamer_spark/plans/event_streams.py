"""Batch analyses tagged ``streaming`` that no earlier family claims:
hypertable rollups, sessionization and trailing z-score anomalies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_tables
from ..streaming.anomaly import TRAIL as _Z_TRAIL
from .registry import query


@query(
    "window_hypertable_rollup",
    oracle="""
    WITH e AS (
      SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
             CAST(value AS DECIMAL(14,2)) AS v
      FROM events
    )
    SELECT h, d,
           CAST(GROUPING(h) AS INT) AS g_h, CAST(GROUPING(d) AS INT) AS g_d,
           COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS sum_v
    FROM e GROUP BY GROUPING SETS ((h, d), (d), ())
    """,
    tags=("streaming", "window", "rollup"),
)
def window_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy: hour->day->total
    rollups of the event stream in ONE pass (grouping sets over date_trunc
    buckets). Scale: a single Expand + one shuffle materializes every
    granularity — the batch analog of cascading streaming window aggs."""
    t = load_tables(spark, sf_dir, "events")
    t.events.createOrReplaceTempView("events_htr")
    return spark.sql("""
        WITH e AS (
          SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
                 CAST(value AS DECIMAL(14,2)) AS v
          FROM events_htr
        )
        SELECT h, d,
               CAST(GROUPING(h) AS INT) AS g_h, CAST(GROUPING(d) AS INT) AS g_d,
               COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS sum_v
        FROM e GROUP BY GROUPING SETS ((h, d), (d), ())
    """)


@query(
    "sessionize_events",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM g
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us
    FROM s GROUP BY user_id, session_idx
    """,
    tags=("streaming", "session"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts after a >30-min silence
    per user (the batch analog of a streaming session window — Spark's
    ``F.session_window`` implements the same semantics incrementally; this
    formulation also yields the per-user session *index*). Plan: one window
    shuffle on user_id computes gap + running session index; the per-session
    aggregate reuses the same key prefix. At scale both stages hash on the
    user key — no global ordering anywhere."""
    from pyspark.sql import Window

    from ..sources.tables import load_tables as _lt

    t = _lt(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    g = t.events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0).alias("new_sess"),
    )
    s = g.withColumn(
        "session_idx",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    return s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .cast("long")
        .alias("duration_us"),
    )


# trailing-window count: the streaming operator (streaming/anomaly.py) and
# this batch query must score identically, so the constant lives once
@query(
    "events_anomaly_zscore",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS w,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), trail AS (
      SELECT event_type, w, c,
             CAST(COUNT(*)  OVER t AS BIGINT) AS n_hist,
             CAST(SUM(c)    OVER t AS BIGINT) AS s1,
             CAST(SUM(c*c)  OVER t AS BIGINT) AS s2
      FROM hourly
      WINDOW t AS (PARTITION BY event_type ORDER BY w
                   ROWS BETWEEN {_Z_TRAIL} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, w AS window_start, c,
           CAST(ROUND(
             (CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / n_hist)
             / SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_hist)
                    / n_hist + 1.0)
             * 1000000.0) AS BIGINT) AS z_micro
    FROM trail
    WHERE n_hist = {_Z_TRAIL}
    ORDER BY event_type, window_start
    """,
    tags=("streaming", "window", "llm"),
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly detection over the event stream:
    per (event_type, 1 h tumbling window) counts scored against the mean/
    stddev of the previous 24 fully-observed windows — the classic
    stream-analytics anomaly primitive (the processor-loop pattern P1 with
    state expressed as window frames instead of an imperative buffer).

    Plan: one keyed count shuffle + one window shuffle per event_type —
    both scale with distinct (type, hour) cardinality, not event volume
    (counts pre-aggregate map-side). Engine-exact: the trailing stats are
    INTEGER sums (s1, s2) folded into one double expression with identical
    operand order in both engines, then micro-rounded; +1.0 variance floor
    keeps constant-rate series finite. In streaming mode the same hourly
    counts come from the watermark windowed agg and the z-score joins
    against the persisted trailing table."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "events")
    hourly = (
        t.events.groupBy("event_type", F.window("ts", "1 hour").alias("wd"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select("event_type", F.col("wd.start").alias("window_start"), "c")
    )
    trail = Window.partitionBy("event_type").orderBy("window_start").rowsBetween(
        -_Z_TRAIL, -1
    )
    scored = hourly.select(
        "event_type",
        "window_start",
        "c",
        F.count(F.lit(1)).over(trail).cast("long").alias("n_hist"),
        F.sum("c").over(trail).cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(trail).cast("long").alias("s2"),
    ).filter(F.col("n_hist") == _Z_TRAIL)
    z = (
        (F.col("c").cast("double") - F.col("s1").cast("double") / F.col("n_hist"))
        / F.sqrt(
            (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n_hist"))
            / F.col("n_hist")
            + F.lit(1.0)
        )
    )
    return scored.select(
        "event_type",
        "window_start",
        "c",
        F.round(z * 1_000_000).cast("long").alias("z_micro"),
    ).orderBy("event_type", "window_start")
