"""Aggregate, grouping-set, pivot, window and sort queries over the TPC-H
facts and the events table.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_tables
from .registry import query
from .tpch import QTY


@query(
    "agg_distinct_suppliers_per_flag",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(DISTINCT l_partkey) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("relational", "agg", "distinct"),
)
def agg_distinct_suppliers_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi count-distinct (expands to expand+two-phase agg in Spark)."""
    t = load_tables(spark, sf_dir, "lineitem")
    return t.lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@query(
    "agg_rollup_flag_status",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) + 2*GROUPING(l_linestatus) AS BIGINT) AS grp,
           CAST(SUM({QTY}) AS DOUBLE) AS sum_qty, COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    tags=("relational", "agg", "rollup"),
)
def agg_rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() markers (subtotals + grand total)."""
    t = load_tables(spark, sf_dir, "lineitem")
    return (
        t.lineitem.rollup("l_returnflag", "l_linestatus").agg(
            (F.grouping("l_returnflag") + F.lit(2) * F.grouping("l_linestatus"))
            .cast("long")
            .alias("grp"),
            F.sum(F.expr(QTY)).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    ).select("l_returnflag", "l_linestatus", "grp", "sum_qty", "n")


@query(
    "agg_cube_priority_status",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
    FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
    """,
    tags=("relational", "agg", "cube"),
)
def agg_cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions."""
    t = load_tables(spark, sf_dir, "orders")
    return t.orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "window_rank_orders_per_customer",
    oracle="""
    SELECT c_custkey, o_orderkey, price_rank FROM (
      SELECT o_custkey AS c_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
      FROM orders) t
    WHERE price_rank <= 3
    """,
    tags=("relational", "window", "topk"),
)
def window_rank_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number window — partitioned by customer, so it
    scales horizontally (no global sort)."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        t.orders.select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            F.row_number().over(w).alias("price_rank"),
        )
        .filter(F.col("price_rank") <= 3)
    )


@query(
    "window_running_sum_user_value",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(14,2)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_value
    FROM events
    """,
    tags=("relational", "window", "events"),
)
def window_running_sum_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) sum per user in event-time order."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.events.select(
        "event_id",
        "user_id",
        F.sum(F.expr("CAST(value AS DECIMAL(14,2))")).over(w).cast("double").alias("running_value"),
    )


@query(
    "window_lag_value_delta",
    oracle="""
    SELECT event_id, user_id,
           CAST(CAST(value AS DECIMAL(14,2)) -
                LAG(CAST(value AS DECIMAL(14,2)), 1)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS DOUBLE) AS delta
    FROM events
    """,
    tags=("relational", "window", "events"),
)
def window_lag_value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG-based per-user delta (NULL for each user's first event)."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dec = F.expr("CAST(value AS DECIMAL(14,2))")
    return t.events.select(
        "event_id",
        "user_id",
        (dec - F.lag(dec, 1).over(w)).cast("double").alias("delta"),
    )


@query(
    "sort_limit_top_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
           o_orderdate
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
    """,
    tags=("relational", "sort", "topk"),
)
def sort_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: per-partition heaps + driver merge, not a full sort."""
    t = load_tables(spark, sf_dir, "orders")
    return (
        t.orders.select(
            "o_orderkey",
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)").alias("o_totalprice"),
            "o_orderdate",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(15)
    )


@query(
    "case_when_price_bands",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 150000 THEN 'mid'
                ELSE 'high' END AS price_band,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS band_total
    FROM orders GROUP BY 1
    """,
    tags=("relational", "scalar", "agg"),
)
def case_when_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + aggregation."""
    t = load_tables(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
    )
    return (
        t.orders.groupBy(band.alias("price_band"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr("CAST(o_totalprice AS DECIMAL(12,2))")).cast("double").alias("band_total"),
        )
    )


@query(
    "agg_min_max_by",
    oracle="""
    SELECT event_type,
           arg_min(event_id, ts ) AS first_event,
           arg_max(event_id, ts) AS last_event,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events GROUP BY event_type
    """,
    tags=("relational", "agg"),
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (argmin/argmax) aggregates — event timestamps are unique
    per type in this data, so the arg is deterministic."""
    t = load_tables(spark, sf_dir, "events")
    return t.events.groupBy("event_type").agg(
        F.min_by("event_id", "ts").alias("first_event"),
        F.max_by("event_id", "ts").alias("last_event"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@query(
    "agg_array_collect_sorted",
    oracle="""
    SELECT c_mktsegment,
           array_to_string(list_sort(list(c_nationkey)), ',') AS nations,
           COUNT(*) AS n
    FROM (SELECT DISTINCT c_mktsegment, c_nationkey FROM customer)
    GROUP BY c_mktsegment
    """,
    tags=("relational", "agg", "array"),
)
def agg_array_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list → sorted array, serialized for stable comparison."""
    t = load_tables(spark, sf_dir, "customer")
    return (
        t.customer.select("c_mktsegment", "c_nationkey")
        .distinct()
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(F.sort_array(F.collect_list("c_nationkey")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("relational", "pivot"),
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional counts) via groupBy().pivot with explicit
    values — map-side combinable, unlike a generic transpose."""
    t = load_tables(spark, sf_dir, "orders")
    p = (
        t.orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )


@query(
    "window_rank_variants",
    oracle="""
    SELECT o_orderkey, o_custkey,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           CAST(PERCENT_RANK() OVER w AS DOUBLE) AS prnk,
           NTILE(4) OVER w AS quartile
    FROM orders
    WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    tags=("relational", "window"),
)
def window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank / ntile over one window spec."""
    t = load_tables(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return t.orders.filter(F.col("o_custkey") < 50).select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).cast("double").alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "window_first_last_frames",
    oracle="""
    SELECT event_id, user_id,
           FIRST_VALUE(event_id) OVER w AS first_id,
           LAST_VALUE(event_id) OVER w_full AS last_id,
           LEAD(event_id, 1, -1) OVER w AS next_id,
           LAG(event_id, 2) OVER w AS prev2_id
    FROM events WHERE user_id < 10
    WINDOW
      w AS (PARTITION BY user_id ORDER BY ts, event_id),
      w_full AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("relational", "window"),
)
def window_first_last_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value with explicit frames + lead(default)/lag(n)."""
    t = load_tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t.events.filter(F.col("user_id") < 10).select(
        "event_id",
        "user_id",
        F.first("event_id").over(w).alias("first_id"),
        F.last("event_id").over(w_full).alias("last_id"),
        F.lead("event_id", 1, -1).over(w).alias("next_id"),
        F.lag("event_id", 2).over(w).alias("prev2_id"),
    )


@query(
    "window_range_interval",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
             AS n_last_hour
    FROM events WHERE user_id < 10
    """,
    tags=("relational", "window", "range"),
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over an interval: events per user in the trailing hour."""
    t = load_tables(spark, sf_dir, "events")
    return t.events.filter(F.col("user_id") < 10).select(
        "event_id",
        "user_id",
        F.expr(
            "COUNT(*) OVER (PARTITION BY user_id ORDER BY ts "
            "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"
        ).alias("n_last_hour"),
    )


@query(
    "limit_offset_pagination",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders
    ORDER BY o_orderkey LIMIT 25 OFFSET 100
    """,
    tags=("relational", "sort", "limit"),
)
def limit_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination over a total order."""
    t = load_tables(spark, sf_dir, "orders")
    return (
        t.orders.select("o_orderkey", "o_custkey").orderBy("o_orderkey").offset(100).limit(25)
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    tags=("relational", "agg", "groupingsets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with GROUPING() markers (generalizes the
    rollup/cube queries in pack 1). Expressed in Spark SQL — one Expand +
    one shuffle, partially aggregated map-side."""
    t = load_tables(spark, sf_dir, "lineitem")
    t.lineitem.createOrReplaceTempView("lineitem_gsets")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem_gsets
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """)


@query(
    "agg_multi_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_cust,
           COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_days,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("relational", "agg", "distinct"),
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) over different keys in one aggregate —
    planned as Expand + two-phase agg (one shuffle per distinct set)."""
    t = load_tables(spark, sf_dir, "orders")
    return t.orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct(F.to_date("o_orderdate")).alias("n_days"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_percentile_cont",
    oracle="""
    SELECT o_orderpriority,
           CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE) AS median_price,
           CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE) AS p90_price
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("relational", "agg", "percentile"),
)
def agg_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (linear interpolation over the sorted
    group — the same published definition in both engines), computed
    WITHOUT buffering whole groups: a group-keyed row_number window (Spark's
    sort-based window SPILLS to disk, unlike percentile()'s in-memory
    per-group array) ranks each group once, the two boundary rows per
    percentile are selected by position, and a conditional aggregate
    interpolates — one group-keyed shuffle, O(1) state per group in the
    final agg, disk-bounded (not memory-bounded) group size. approx
    alternatives when tolerance permits: approx_percentile /
    sketch_quantile_bottomk."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "orders")
    g = "o_orderpriority"
    v = F.col("o_totalprice").cast("double")
    w_sort = Window.partitionBy(g).orderBy("o_totalprice")
    w_all = Window.partitionBy(g)
    ranked = t.orders.select(g, "o_totalprice").select(
        F.col(g),
        v.alias("v"),
        F.row_number().over(w_sort).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )

    def pct(p: float, name: str):
        # target position (0-based) of the interpolated value; lo/hi are the
        # two sorted rows it falls between (equal when target is integral)
        tgt = (F.col("n") - 1) * F.lit(p)
        lo_rn = F.floor(tgt) + 1
        hi_rn = F.ceil(tgt) + 1
        frac = tgt - F.floor(tgt)
        lo = F.max(F.when(F.col("rn") == lo_rn, F.col("v")))
        hi = F.max(F.when(F.col("rn") == hi_rn, F.col("v")))
        f = F.first(frac)
        # lerp as lo*(1-f) + hi*f — the interpolation BOTH engines round to
        # (DuckDB Interpolator; lo + f*(hi-lo) drifts 1 ulp on some groups)
        return (lo * (F.lit(1.0) - f) + hi * f).cast("double").alias(name)

    # keep only rows that can be a percentile boundary (≤ 4 per group) so
    # the final aggregate's input is tiny regardless of group size
    is_boundary = F.lit(False)
    for p in (0.5, 0.9):
        tgt = (F.col("n") - 1) * F.lit(p)
        is_boundary = (
            is_boundary
            | (F.col("rn") == F.floor(tgt) + 1)
            | (F.col("rn") == F.ceil(tgt) + 1)
        )
    return (
        ranked.filter(is_boundary)
        .groupBy(g)
        .agg(pct(0.5, "median_price"), pct(0.9, "p90_price"))
    )


@query(
    "agg_having_filter",
    oracle="""
    SELECT l_suppkey, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 50
    ORDER BY l_suppkey
    """,
    tags=("relational", "agg", "having"),
)
def agg_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING — post-aggregation filter, evaluated after the final merge so
    partial aggregation still combines map-side."""
    t = load_tables(spark, sf_dir, "lineitem")
    return (
        t.lineitem.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.expr("CAST(l_quantity AS DECIMAL(12,2))")).cast("double").alias("total_qty"),
        )
        .filter(F.col("n_items") > 50)
        .orderBy("l_suppkey")
    )


@query(
    "unpivot_part_measures",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part WHERE p_partkey < 200
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS value
    FROM part WHERE p_partkey < 200
    """,
    tags=("relational", "unpivot"),
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt). Spark plans a single Expand over one scan —
    unlike the UNION-ALL formulation, the input is read once."""
    t = load_tables(spark, sf_dir, "part")
    return (
        t.part.filter(F.col("p_partkey") < 200)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            F.col("p_retailprice").cast("double").alias("p_retailprice"),
        )
        .unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "value")
    )


@query(
    "sort_nulls_ordering",
    oracle="""
    SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
    FROM customer
    ORDER BY seg NULLS FIRST, c_custkey
    LIMIT 50
    """,
    tags=("relational", "sort", "nulls"),
)
def sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS FIRST ordering (engines disagree on the default; the
    query pins it) with a total tie-break."""
    t = load_tables(spark, sf_dir, "customer")
    return (
        t.customer.select(
            "c_custkey", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
        )
        .orderBy(F.col("seg").asc_nulls_first(), F.col("c_custkey").asc())
        .limit(50)
    )


def _build_sketches_oracle() -> str | None:
    """DuckDB oracle for agg_approx_sketches, built at import time.

    Both sketch outputs are deterministic (verified stable under
    repartition/coalesce/reorder — HLL++ is order-insensitive; the
    QuantileSummaries buffer never compresses because accuracy=10k exceeds
    every group, making percentile_approx EXACT):

    - ``approx_median`` is therefore checkable live: with an uncompressed
      buffer Spark returns the discrete lower-median — DuckDB's
      ``quantile_disc(x, 0.5)``.
    - ``approx_custs`` (HLL++ estimate) is a Spark-internal hash function no
      other engine reproduces → its 5 per-group values are pinned as a golden
      file (plans/golden_sketches.json, regenerated by
      ``python tools/regen_goldens.py`` after any testdata refresh; the local
      oracle sweep at the gate sf is the drift canary).

    Returns None → rows-only check if the golden file is absent.
    """
    f = os.path.join(os.path.dirname(__file__), "golden_sketches.json")
    if not os.path.exists(f):
        return None
    try:
        with open(f) as fh:
            golden: dict[str, int] = json.load(fh)["approx_custs"]
    except Exception:
        return None
    rows = ",\n      ".join(
        f"('{k}', CAST({v} AS BIGINT))" for k, v in sorted(golden.items())
    )
    return f"""
    WITH hll(o_orderpriority, approx_custs) AS (VALUES
      {rows})
    SELECT o.o_orderpriority, hll.approx_custs,
           CAST(quantile_disc(o.o_totalprice, 0.5) AS DOUBLE) AS approx_median,
           COUNT(*) AS n
    FROM orders o JOIN hll USING (o_orderpriority)
    GROUP BY o.o_orderpriority, hll.approx_custs
    """


@query(
    "agg_approx_sketches",
    oracle=_build_sketches_oracle(),
    tags=("relational", "agg", "sketch", "approx"),
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — HyperLogLog++ distinct counts and quantile-sketch
    percentiles per group. These are THE 100 TB substitutes for the exact
    formulations checked elsewhere (agg_multi_distinct, agg_percentile_cont):
    fixed-size state, map-side combinable, single shuffle of sketch bytes.
    Deterministic for a fixed corpus → value-hash checked against
    _build_sketches_oracle (live quantile_disc + golden HLL values at the
    driver's sf); error bounds vs exact answers are pinned in
    tests/test_llm_ops.py."""
    t = load_tables(spark, sf_dir, "orders")
    return t.orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_custs"),
        F.percentile_approx("o_totalprice", 0.5, 10_000).cast("double").alias("approx_median"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_mode_exact",
    oracle="""
    WITH counts AS (
      SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                   ORDER BY n DESC, o_orderpriority) AS rn
      FROM counts
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count
    FROM ranked WHERE rn = 1
    ORDER BY o_orderstatus
    """,
    tags=("relational", "agg", "mode"),
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MODE per group (most frequent order priority per status),
    deterministic tie-break by value — the categorical summary SQL's
    ANY_VALUE/approx paths don't give. Two keyed aggregations: counts are
    map-side combined to one row per (group, value) — so the rank window
    sees the value-vocabulary relation, never raw rows — then one
    group-keyed top-1 window. Skew-safe at any corpus size because the
    heavy lifting happens in the partial aggregate."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "orders")
    counts = t.orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
        .orderBy("o_orderstatus")
    )
