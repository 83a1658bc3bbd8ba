"""Materialize the planted-near-dup embedding fixture to parquet.

The registered query (``dedup_semantic_recall_planted``) derives this
corpus IN-QUERY in both engines — this tool exists so the fixture can be
inspected, diffed, or reused outside the oracle gate. Single-sourced
from ``plans.semantic_dedup.planted_embeddings`` (FIXTURES.md §4).

Usage: python tools/gen_planted_fixture.py [sf_dir] [out.parquet]
"""

from __future__ import annotations

import sys


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/planted_embeddings.parquet"
    from sea_streamer_spark.plans.semantic_dedup import planted_embeddings
    from sea_streamer_spark.session import get_spark

    spark = get_spark(app_name="gen-planted-fixture", shuffle_partitions=8)
    df = planted_embeddings(spark, sf_dir).orderBy("vec_id")
    df.toPandas().to_parquet(out, index=False)
    n = df.count()
    print(f"wrote {n} rows ({sf_dir}) -> {out}")
    spark.stop()


if __name__ == "__main__":
    main()
