"""Sketches: heavy hitters, HLL, KMV Jaccard, bottom-k quantiles and join
cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as T
from ..operators import text as _T
from ..operators.sketch import CMS_AB, HLL_M, HLL_W, KMV_K, cms_build, cms_estimate_expr
from ..operators.sketch import CMS_AB as _CMS_AB
from ..sources.tables import load_tables
from .registry import query


_CMS_W = 1024


def _cms_oracle() -> str:
    fold = T.duck_char_fold("token")
    kcols = ", ".join(
        f"(({a} * h + {b}) % 1000000007) % {_CMS_W} AS k{j}"
        for j, (a, b) in enumerate(CMS_AB)
    )
    unions = "\n      UNION ALL ".join(
        f"SELECT {j} AS j, k{j} AS k, n_exact FROM buckets" for j in range(len(CMS_AB))
    )
    joins = "\n    ".join(
        f"JOIN grid g{j} ON g{j}.j = {j} AND g{j}.k = t.k{j}" for j in range(len(CMS_AB))
    )
    least = ", ".join(f"g{j}.c" for j in range(len(CMS_AB)))
    return f"""
    WITH tf AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM (SELECT unnest({T.duck_tokens('text')}) AS token FROM documents)
      GROUP BY token
    ), h AS (
      SELECT token, n_exact, {fold} AS h FROM tf
    ), buckets AS (
      SELECT token, n_exact, {kcols} FROM h
    ), grid AS (
      SELECT j, k, CAST(SUM(n_exact) AS BIGINT) AS c
      FROM ({unions})
      GROUP BY j, k
    ), topk AS (
      SELECT * FROM buckets ORDER BY n_exact DESC, token LIMIT 20
    )
    SELECT t.token, t.n_exact, LEAST({least}) AS n_est
    FROM topk t
    {joins}
    ORDER BY t.n_exact DESC, t.token
    """


@query(
    "sketch_heavy_hitters",
    oracle=_cms_oracle(),
    tags=("llm", "sketch"),
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus tokens with exact counts AND their Count-Min sketch
    estimates (operators/sketch.py — d×w counter grid, geometry-bounded
    build, map-side literal-lookup probe). The exact counts are the truth
    the sketch is judged against; the DuckDB oracle REBUILDS the entire
    grid in SQL (the portable polynomial hash makes every bucket index
    replayable), so est>=exact one-sidedness and the exact estimates are
    both value-hash checked. The sketch is the bounded-memory path for
    live token-frequency tracking (cms_merge of per-batch deltas == one
    big build); this query is its audit."""
    docs = load_tables(spark, sf_dir, "documents").documents
    tf = (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    model = cms_build(tf, "token", width=_CMS_W, weight_col="n_exact")
    return (
        tf.orderBy(F.desc("n_exact"), "token")
        .limit(20)
        .select(
            "token",
            "n_exact",
            cms_estimate_expr(model, F.col("token")).alias("n_est"),
        )
        .orderBy(F.desc("n_exact"), "token")
    )


@query(
    "sketch_hll_per_source",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({T.duck_tokens('text')}) AS token FROM documents
    ), h AS (
      SELECT source, {T.duck_char_fold("md5(token)")} AS h FROM tok
    ), br AS (
      SELECT source, CAST(h % {HLL_M} AS INT) AS bucket,
             CASE WHEN h // {HLL_M} = 0 THEN {HLL_W + 1}
                  ELSE {HLL_W + 1} - length(bin(h // {HLL_M})) END AS rho
      FROM h
    ), regs AS (
      SELECT source, bucket, MAX(rho) AS r FROM br GROUP BY source, bucket
    ), summ AS (
      SELECT source,
             CAST(SUM(CAST(1 AS BIGINT) << (32 - r)) AS BIGINT) AS present_sum,
             CAST(COUNT(*) AS BIGINT) AS n_present
      FROM regs GROUP BY source
    ), ex AS (
      SELECT source, CAST(COUNT(DISTINCT token) AS BIGINT) AS n_exact
      FROM tok GROUP BY source
    )
    SELECT s.source,
           CAST(s.present_sum + ({HLL_M} - s.n_present) * (CAST(1 AS BIGINT) << 32)
                AS BIGINT) AS denom_q32,
           CAST({HLL_M} - s.n_present AS BIGINT) AS zero_registers,
           e.n_exact
    FROM summ s JOIN ex e USING (source)
    ORDER BY s.source""",
    tags=("llm", "sketch"),
)
def sketch_hll_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog per source (operators/sketch.hll_registers):
    approximate distinct-token cardinality whose ENTIRE register build —
    fold, bucket, leading-zeros rank via bin-length — replays in SQL, so
    the sketch itself is value-hash checked at any sf (unlike Spark's
    xxhash64-based approx_count_distinct, which only a golden can pin).
    Output is the exact-integer summary (denom_q32, zero_registers) the
    float estimate derives from, plus the true distinct count the accuracy
    tests compare against. Build = one geometry-bounded register
    aggregate; registers merge by max ⇒ valid streaming accumulator."""
    from ..operators.sketch import hll_registers, hll_summary
    from ..operators.text import tokens

    t = load_tables(spark, sf_dir, "documents")
    tok = t.documents.select(
        "source", F.explode(tokens("text")).alias("token")
    )
    regs = hll_registers(tok, "token", group_cols=["source"])
    summ = hll_summary(regs, group_cols=["source"])
    exact = tok.groupBy("source").agg(
        F.countDistinct("token").cast("long").alias("n_exact")
    )
    return summ.join(exact, "source").select(
        "source", "denom_q32", "zero_registers", "n_exact"
    ).orderBy("source")


@query(
    "sketch_kmv_jaccard_sources",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT source, unnest({T.duck_tokens('text')}) AS token
      FROM documents
    ), hs AS (
      SELECT DISTINCT source, {T.duck_char_fold("md5(token)")} AS h FROM tok
    ), kmv AS (
      SELECT source, h FROM (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
        FROM hs
      ) WHERE rk <= {KMV_K}
    ), srcs AS (SELECT DISTINCT source FROM kmv),
    pairs AS (
      SELECT a.source AS ga, b.source AS gb
      FROM srcs a JOIN srcs b ON a.source < b.source
    ), uni AS (
      SELECT p.ga, p.gb, k.h, COUNT(DISTINCT k.source) AS sides
      FROM pairs p JOIN kmv k ON k.source = p.ga OR k.source = p.gb
      GROUP BY p.ga, p.gb, k.h
    ), top AS (
      SELECT ga, gb, h, sides,
             ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rk
      FROM uni
    )
    SELECT ga AS source_a, gb AS source_b,
           CAST(COUNT(*) AS BIGINT) AS k_used,
           CAST(SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS shared_in_topk
    FROM top WHERE rk <= {KMV_K}
    GROUP BY ga, gb ORDER BY source_a, source_b""",
    tags=("llm", "sketch"),
)
def sketch_kmv_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard via KMV sketches
    (operators/sketch.kmv_sketch / kmv_pair_overlap, Beyer et al. 2007):
    the set-operation sketch — per source the k=256 smallest distinct
    md5-fold hash values, pairwise estimate = shared-in-top-k of the
    union, ALL integer set algebra ⇒ the oracle replays every step and
    the driver hash checks the sketches themselves. The scale story: the
    exact pairwise computation (contamination_matrix_sources) touches the
    full shared-token volume; this touches k rows per source regardless
    of corpus size."""
    from ..operators.sketch import kmv_pair_overlap, kmv_sketch
    from ..operators.text import tokens

    t = load_tables(spark, sf_dir, "documents")
    tok = t.documents.select(
        "source", F.explode(tokens("text")).alias("token")
    )
    kmv = kmv_sketch(tok, "token", "source")
    return (
        kmv_pair_overlap(kmv, "source")
        .select(
            F.col("ga").alias("source_a"),
            F.col("gb").alias("source_b"),
            "k_used",
            "shared_in_topk",
        )
        .orderBy("source_a", "source_b")
    )


def _qsk_oracle() -> str:
    from ..operators import text as T
    from ..operators.sketch import QSK_K, QSK_QS

    p_exprs = ",\n           ".join(
        f"CAST(MAX(CASE WHEN vrk * 100 >= k_used * {q}"
        f" AND (vrk - 1) * 100 < k_used * {q} THEN v END) AS BIGINT) AS p{q}"
        for q in QSK_QS
    )
    return f"""
    WITH hs AS (
      SELECT source,
             {T.duck_char_fold("md5(CAST(doc_id AS VARCHAR))")} AS h,
             CAST(n_chars AS BIGINT) AS v
      FROM documents
    ), bk AS (
      SELECT source, h, v FROM (
        SELECT source, h, v,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, v) AS rk
        FROM hs
      ) WHERE rk <= {QSK_K}
    ), ranked AS (
      SELECT source, v,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, h) AS vrk,
             COUNT(*) OVER (PARTITION BY source) AS k_used
      FROM bk
    )
    SELECT source,
           CAST(MAX(k_used) AS BIGINT) AS k_used,
           {p_exprs}
    FROM ranked GROUP BY source ORDER BY source"""


@query("sketch_quantile_bottomk", oracle=_qsk_oracle(), tags=("llm", "sketch"))
def sketch_quantile_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n_chars quantile summary from the portable bottom-k
    uniform sample (operators/sketch.bottomk_value_sample): the sketch
    family's distribution member — geometry-bounded (k rows/source at any
    corpus size), mergeable (bottom-k of a union == re-ranked truncation
    of per-part bottom-k's), and — unlike approx_percentile — replayable
    bit-for-bit in SQL, so the driver hash checks the estimates
    themselves. The engine-exact at-scale alternative to the exact
    percentile operator's full-group buffering."""
    from ..operators.sketch import bottomk_value_sample, quantiles_from_sample

    docs = load_tables(spark, sf_dir, "documents").documents
    sample = bottomk_value_sample(docs, "doc_id", "n_chars", "source")
    return quantiles_from_sample(sample, "source")


_JC_W = 512


def _jc_grid_sql(table: str, keyexpr: str, name: str) -> str:
    fold = _T.duck_char_fold("key")
    kcols = ", ".join(
        f"(({a} * h + {b}) % 1000000007) % {_JC_W} AS k{j}"
        for j, (a, b) in enumerate(_CMS_AB)
    )
    unions = "\n      UNION ALL ".join(
        f"SELECT {j} AS j, k{j} AS k, n FROM {name}_buckets"
        for j in range(len(_CMS_AB))
    )
    return f"""{name}_keys AS (
      SELECT CAST({keyexpr} AS VARCHAR) AS key, CAST(COUNT(*) AS BIGINT) AS n
      FROM {table} GROUP BY 1
    ), {name}_h AS (
      SELECT key, n, {fold} AS h FROM {name}_keys
    ), {name}_buckets AS (
      SELECT key, n, {kcols} FROM {name}_h
    ), {name}_grid AS (
      SELECT j, k, CAST(SUM(n) AS BIGINT) AS c FROM ({unions}) GROUP BY j, k
    )"""


@query(
    "sketch_join_cardinality",
    oracle=f"""
    WITH {_jc_grid_sql("orders", "o_orderkey", "a")},
    {_jc_grid_sql("lineitem", "l_orderkey", "b")},
    ip AS (
      SELECT a.j, CAST(SUM(a.c * b.c) AS BIGINT) AS ip
      FROM a_grid a JOIN b_grid b ON a.j = b.j AND a.k = b.k
      GROUP BY a.j
    ), exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS c
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT stat, value FROM (
      SELECT 'exact' AS stat, c AS value FROM exact
      UNION ALL
      SELECT 'estimate', MIN(ip) FROM ip
      UNION ALL
      SELECT 'ip_row_' || CAST(j AS VARCHAR), ip FROM ip
    ) ORDER BY stat
    """,
    tags=("llm", "sketch"),
)
def sketch_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join cardinality estimation WITHOUT executing the join — the
    AMS/CMS inner-product estimator every cost-based optimizer carries
    (operators/sketch.cms_inner_products): one single-pass geometry-bounded
    CMS per side (collect ≤ d·w longs at any table size), then
    ``min_j Σ_k a[j][k]·b[j][k]`` upper-bounds Σ_key f_a·f_b = |A ⋈ B|.
    All-integer, so the DuckDB oracle rebuilds BOTH grids in SQL and the
    driver hash checks every per-depth inner product, the min-estimate,
    and the true join count it is judged against (the exact count is the
    only stage that runs the join — it is the audit, not the estimator)."""
    from ..operators.sketch import cms_build, cms_inner_products

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    ka = t.orders.groupBy(
        F.col("o_orderkey").cast("string").alias("key")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    kb = t.lineitem.groupBy(
        F.col("l_orderkey").cast("string").alias("key")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    ga = cms_build(ka, "key", width=_JC_W, weight_col="n")
    gb = cms_build(kb, "key", width=_JC_W, weight_col="n")
    ips = cms_inner_products(ga, gb)
    exact = (
        t.orders.join(
            t.lineitem,
            t.orders["o_orderkey"] == t.lineitem["l_orderkey"],
        ).count()
    )
    rows = [("exact", int(exact)), ("estimate", min(ips))] + [
        (f"ip_row_{j}", int(v)) for j, v in enumerate(ips)
    ]
    return (
        spark.createDataFrame(rows, "stat string, value long").orderBy("stat")
    )
