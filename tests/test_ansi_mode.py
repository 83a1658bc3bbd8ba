"""ANSI-mode conformance spot-check: the integer-heavy operators must not
depend on silent BIGINT wraparound — under ``spark.sql.ansi.enabled=true``
an overflow raises instead of wrapping, so running the fixed-point/sketch
queries in ANSI mode and getting the SAME rows proves the overflow-bound
docstrings (stats.py, sketch.py, llm_ops5 trend) are honest."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

#: the queries whose correctness leans on bounded integer arithmetic
ANSI_SPOT = [
    "profile_incremental_merge",
    "events_value_trend",
    "sketch_quantile_bottomk",
    "sketch_hll_per_source",
    "graph_neardup_pagerank",
    "tokenizer_bpe_counts",
]


class TestAnsiMode:
    @pytest.mark.parametrize("name", ANSI_SPOT)
    def test_same_rows_under_ansi(self, spark, name):
        from sea_streamer_spark.plans.queries import QUERIES

        fn = QUERIES[name].fn
        default = spark.conf.get("spark.sql.ansi.enabled")
        try:
            spark.conf.set("spark.sql.ansi.enabled", "false")
            base = sorted(tuple(r) for r in fn(spark, SF_DIR).collect())
            spark.conf.set("spark.sql.ansi.enabled", "true")
            ansi = sorted(tuple(r) for r in fn(spark, SF_DIR).collect())
        finally:
            spark.conf.set("spark.sql.ansi.enabled", default)
        assert ansi == base, name
