"""Ordered funnel stages (plans/event_analytics.events_funnel_stages)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from sea_streamer_spark.session import get_spark

    return get_spark(app_name="test-funnel")


def _ev(spark, rows):
    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            Row(user_id=u, event_type=ty, ts=t0 + dt.timedelta(minutes=m))
            for u, ty, m in rows
        ]
    )


def _stages(spark, df):
    """Run the registered query's core on an arbitrary events frame by
    monkey-loading it as the events table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id")
    staged = (
        df.withColumn(
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
    return {
        r["user_id"]: r["s"]
        for r in staged.select(
            "user_id", stage.cast("long").alias("s")
        ).distinct().collect()
    }


class TestFunnelStages:
    def test_order_matters_not_presence(self, spark):
        df = _ev(
            spark,
            [
                # u1: full ordered funnel
                (1, "view", 0), (1, "click", 5), (1, "purchase", 10),
                # u2: purchase BEFORE click -> stops at stage 2
                (2, "view", 0), (2, "purchase", 3), (2, "click", 5),
                # u3: click before any view -> stops at stage 1
                (3, "click", 0), (3, "view", 5),
                # u4: no view at all -> stage 0
                (4, "click", 1), (4, "purchase", 2),
                # u5: view only
                (5, "view", 7),
            ],
        )
        assert _stages(spark, df) == {1: 3, 2: 2, 3: 1, 4: 0, 5: 1}

    def test_recovery_after_early_purchase(self, spark):
        # purchase before click doesn't count; a LATER purchase does
        df = _ev(
            spark,
            [(1, "view", 0), (1, "purchase", 2), (1, "click", 4), (1, "purchase", 6)],
        )
        assert _stages(spark, df) == {1: 3}

    def test_single_shuffle_plan(self, spark):
        """All three window expressions share the user partitioning: the
        funnel must plan exactly ONE user-keyed Exchange."""
        from sea_streamer_spark.plans.queries import QUERIES

        df = QUERIES["events_funnel_stages"].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_exchanges = sum(
            1
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line and "user_id" in line
        )
        assert n_exchanges == 1, plan

    def test_registered_query_oracle(self, spark):
        from tests.oracle import check_query

        assert check_query(spark, "events_funnel_stages", SF_DIR) > 0
