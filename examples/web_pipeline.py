#!/usr/bin/env python
"""End-to-end web-corpus acquisition pipeline (the crawl-to-training-set
path, composing the round-3 wave):

    raw "crawled" HTML  →  boilerplate extraction (tag/script/entity strip)
    →  URL normalization + per-domain quota gate
    →  corpus-wide line-level dedup (Falcon rule)
    →  trained linear quality probe filter
    →  CDC merge-upsert into the persistent corpus snapshot
    →  incremental dedup-cluster maintenance over the fresh batch

Every stage is a distributed DataFrame op; the only driver-side state is
the probe's 9 integer weights and the per-step summary counts. At 100 TB
the same code runs unchanged: extraction/normalization are zero-shuffle
projections, line dedup shuffles on line keys, the probe trains with one
d-long aggregation per iteration, the upsert is one key join, and the
incremental clustering touches |old labels| + |delta pairs| rows — never
the historical corpus.

    python examples/web_pipeline.py [sf_dir]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sea_streamer_spark import get_spark
from sea_streamer_spark.operators.classifier import score_col, spark_train
from sea_streamer_spark.operators.dedup import minhash_lsh_dedup
from sea_streamer_spark.operators.graph import (
    connected_components,
    incremental_components,
)
from sea_streamer_spark.plans.text import _html_synth_spark, html_extract_text
from sea_streamer_spark.sources.tables import load_tables

MAX_DOCS_PER_DOMAIN = 200


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="web-pipeline")
    docs = load_tables(spark, sf_dir, "documents").documents

    # 0. the corpus "as crawled": deterministic HTML shells + source URLs
    crawled = docs.select(
        "doc_id",
        "source",
        _html_synth_spark(F.col("doc_id"), F.col("text")).alias("html"),
    )

    # 1. boilerplate extraction — pure projection
    extracted = crawled.select(
        "doc_id", "source", html_extract_text(F.col("html")).alias("text")
    )

    # 2. per-domain quota (anti-domination): deterministic hash rank per
    #    source, keep the first MAX_DOCS_PER_DOMAIN
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    quota = (
        extracted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= MAX_DOCS_PER_DOMAIN)
        .drop("rnk")
    )

    # 3. corpus-wide line dedup (Falcon rule): drop lines seen >= 3 times
    toks = quota.select(
        "doc_id",
        "source",
        F.filter(F.split("text", r"\s+"), lambda x: F.length(x) > 0).alias("tk"),
    ).withColumn("n_lines", F.floor((F.size("tk") + 7) / F.lit(8)))
    # n_lines >= 1 guard: for an empty doc sequence(0, -1) auto-negates the
    # step and yields [0, -1] — two phantom empty "lines" that would poison
    # the corpus-wide frequency counts (r3 ADVICE #2). Empty docs emit no
    # line rows at all (matching DuckDB's empty generate_series(0, -1)).
    lines = toks.filter(F.col("n_lines") >= 1).select(
        "doc_id",
        "source",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (F.col("n_lines") - 1).cast("int")),
                lambda i: F.array_join(F.slice(F.col("tk"), i * 8 + 1, 8), " "),
            )
        ).alias("pos", "line"),
    )
    freq = lines.groupBy("line").agg(F.count(F.lit(1)).alias("n"))
    deduped = (
        lines.join(freq, "line")
        .filter(F.col("n") < 3)
        .groupBy("doc_id", "source")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("text")
        )
    )

    # 4. quality probe: train on this batch, keep positively-scored docs
    weights = spark_train(deduped, iters=20)
    scored = deduped.withColumn("logit", score_col(F.col("text"), weights))
    kept = scored.filter(F.col("logit") > 0).select("doc_id", "source", "text")

    # 5. CDC upsert into the persistent snapshot: docs already present get
    #    updated text; new doc_ids insert (here: even ids simulate history)
    base = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.col("text").alias("base_text")
    )
    merged = base.join(
        kept.select("doc_id", F.col("text").alias("new_text")),
        "doc_id",
        "full_outer",
    ).select(
        "doc_id",
        F.coalesce("new_text", "base_text").alias("text"),
        F.when(F.col("base_text").isNull(), "inserted")
        .when(F.col("new_text").isNull(), "kept")
        .otherwise("updated")
        .alias("action"),
    )

    # 6. incremental dedup clustering: history clustered once; the fresh
    #    batch contributes only delta pairs
    pairs = minhash_lsh_dedup(docs, threshold=0.5).select("doc_a", "doc_b")
    old_pairs = pairs.filter(
        (F.col("doc_a") % 2 == 0) & (F.col("doc_b") % 2 == 0)
    )
    delta = pairs.filter(
        (F.col("doc_a") % 2 != 0) | (F.col("doc_b") % 2 != 0)
    )
    labels = incremental_components(connected_components(old_pairs), delta)

    n_in = docs.count()
    n_kept = kept.count()
    actions = {r["action"]: r["cnt"] for r in
               merged.groupBy("action").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    n_clustered = labels.count()
    print(f"crawled: {n_in}  after quota+dedup+probe: {n_kept}")
    print(f"snapshot merge: {actions}")
    print(f"near-dup nodes labeled (incremental): {n_clustered}")
    spark.stop()


if __name__ == "__main__":
    main()
