"""Dataset versioning: snapshot diffs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_tables
from .registry import query


@query(
    "dataset_snapshot_diff",
    oracle="""
    WITH newt AS (
      SELECT doc_id, text FROM documents
    ), old AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' v1' ELSE text END AS text
      FROM documents WHERE doc_id % 10 != 3
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 13 = 0
    ), od AS (
      SELECT doc_id, md5(COALESCE(text, chr(1))) AS a FROM old
    ), nd AS (
      SELECT doc_id, md5(COALESCE(text, chr(1))) AS b FROM newt
    ), j AS (
      SELECT COALESCE(od.doc_id, nd.doc_id) AS doc_id, od.a, nd.b
      FROM od FULL OUTER JOIN nd ON od.doc_id = nd.doc_id
    )
    SELECT doc_id,
           CASE WHEN a IS NULL THEN 'added'
                WHEN b IS NULL THEN 'removed'
                WHEN a != b THEN 'changed' END AS change
    FROM j
    WHERE a IS NULL OR b IS NULL OR a != b
    ORDER BY doc_id""",
    tags=("llm", "versioning"),
)
def dataset_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot versioning diff (operators/versioning.snapshot_diff): the
    previous corpus snapshot is reconstructed deterministically from the
    current one (10% of ids absent => 'added', ids ≡0 mod 7 carried a ' v1'
    text => 'changed', a mod-13 slice existed only before => 'removed') and
    diffed via ONE full-outer key join over map-side md5 row digests —
    output scales with the change volume, never the snapshot size. The
    oracle replays the same construction and digest in SQL."""
    from ..operators.versioning import snapshot_diff

    docs = load_tables(spark, sf_dir, "documents").documents
    new = docs.select("doc_id", "text")
    old = (
        docs.filter(F.col("doc_id") % 10 != 3)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v1"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
    )
    return snapshot_diff(old, new, ["doc_id"])
