#!/usr/bin/env python3
"""Regenerate golden files that pin Spark-internal sketch outputs.

Run after any testdata refresh (the driver regenerates
/root/testdata/sf*/ between rounds — see TESTDATA.md):

    python tools/regen_goldens.py

Currently regenerates ``sea_streamer_spark/plans/golden_sketches.json`` —
the per-group HyperLogLog++ estimates used by agg_approx_sketches' DuckDB
oracle (HLL++ is order-insensitive ⇒ deterministic for a fixed corpus, but
its xxhash64-based registers are not reproducible outside Spark). The local
oracle sweep (tests/test_oracle_queries.py, pinned to the driver's sf for
this query) fails loudly if the golden drifts out of date.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import SparkSession

    from sea_streamer_spark.plans.fragments import ORACLE_SF_DIR

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from sea_streamer_spark.plans.queries import QUERIES

    rows = QUERIES["agg_approx_sketches"].fn(spark, ORACLE_SF_DIR).collect()
    golden = {
        "sf_dir": ORACLE_SF_DIR,
        "approx_custs": {r["o_orderpriority"]: r["approx_custs"] for r in rows},
    }
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "sea_streamer_spark",
        "plans",
        "golden_sketches.json",
    )
    with open(out, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {out}: {golden['approx_custs']}")


if __name__ == "__main__":
    main()
