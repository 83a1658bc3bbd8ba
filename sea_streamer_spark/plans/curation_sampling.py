"""Curation sampling and mixtures: stratified and weighted samples, source
caps, DSIR, token-budget and temperature mixtures, Pareto fronts and
Hamilton apportionment.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import curation as C
from ..operators import text as T
from ..operators.apportion import APPORTION_BUDGET, hamilton_alloc
from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .fragments import ORACLE_SF_DIR, TOKS
from .registry import query


@query(
    "curation_stratified_sample",
    oracle=f"""
    WITH b AS (
      SELECT lang, {C.duck_split_bucket('doc_id')} AS bucket FROM documents
    )
    SELECT lang, COUNT(*) AS n_sampled
    FROM b
    WHERE bucket < CASE lang WHEN 'en' THEN 500 WHEN 'es' THEN 2000 ELSE 1000 END
    GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "curation"),
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (en 5%, es 20%, rest 10%): pure
    per-row hash thresholding — reproducible, zero shuffle before the tiny
    count; the scale story of sampleBy without its RNG coupling."""
    t = load_tables(spark, sf_dir, "documents")
    sampled = C.stratified_sample(
        t.documents, rates={"en": 0.05, "es": 0.20}, default_rate=0.10
    )
    return sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled")).orderBy("lang")


@query(
    "curation_source_cap",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {T.duck_char_fold("md5('cap' || CAST(doc_id AS VARCHAR))")}, doc_id
             ) AS rnk
      FROM documents
    )
    SELECT doc_id, source, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 10 ORDER BY source, rnk
    """,
    tags=("llm", "curation"),
)
def curation_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap: keep at most 10 documents per source, chosen by
    a deterministic salted-hash order (reproducible under re-runs and
    repartitioning — no RNG). One window shuffle on source; the standard
    anti-domination gate when one crawl source dwarfs the rest."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        C.shuffle_rank("doc_id", salt="cap"), "doc_id"
    )
    return (
        t.documents.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 10)
        .select("doc_id", "source", "rnk")
        .orderBy("source", "rnk")
    )


@query(
    "curation_mixture_resample",
    oracle=f"""
    WITH n AS (
      SELECT source,
             {C.duck_mixture_copies({"src0": 2.5, "src1": 0.25, "src2": 0.0})} AS n_copies
      FROM documents
    )
    SELECT source, CAST(SUM(n_copies) AS BIGINT) AS n_rows,
           COUNT(*) FILTER (n_copies > 0) AS n_docs
    FROM n GROUP BY source HAVING SUM(n_copies) > 0 ORDER BY source
    """,
    tags=("llm", "curation"),
)
def curation_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture resampling (operators/curation.py:mixture_resample): src0
    upweighted 2.5x (every doc twice + a deterministic half a third time),
    src1 kept at 25%, src2 dropped, the rest at 1.0 — per-source row/doc
    counts after replication. Pure map-side projection + explode; the
    training-mix weighting step with zero shuffle before the tiny count."""
    t = load_tables(spark, sf_dir, "documents")
    out = C.mixture_resample(
        t.documents, weights={"src0": 2.5, "src1": 0.25, "src2": 0.0}
    )
    return (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy("source")
    )


_DSIR_M = 512


_DSIR_K = 200


_dsir_cache: dict[str, object] = {}


def _duck_ngram_rel(where: str = "") -> str:
    """DuckDB relation yielding one row per token n-gram occurrence
    (unigrams + space-joined bigrams) — the SQL replay of
    operators/selection.token_ngrams."""
    return f"""
    WITH toks AS (
      SELECT string_split_regex(text, '\\s+') AS tk FROM documents {where}
    ), uni AS (
      SELECT unnest(tk) AS ng FROM toks
    ), bi AS (
      SELECT tk[i] || ' ' || tk[i + 1] AS ng
      FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
            FROM toks WHERE len(tk) >= 2)
    )
    SELECT ng FROM uni UNION ALL SELECT ng FROM bi"""


def dsir_grid_np(parquet_path: str, m: int = _DSIR_M):
    """Import-time DSIR fit from the gate corpus: target = ``lang='en'``
    documents, raw = all documents. Two m-bounded bucket-count grids via
    DuckDB (the oracle-trainer), log-ratios micro-rounded in Python by the
    SAME operators/selection.dsir_logratio_grid the operator exposes — the
    registered query and its oracle then share the grid as literals, so
    scoring is engine-exact integer arithmetic (whiten_fit_np rationale).
    Returns the m-int grid or None when the gate parquet is absent."""
    key = f"{parquet_path}|{m}"
    if key not in _dsir_cache:
        if not os.path.exists(parquet_path):
            return None  # expected skip (absent gate data, not cached);
            # training errors on present data propagate (r3 ADVICE #1)
        import duckdb

        from ..operators.selection import dsir_logratio_grid
        from ..operators.text import duck_char_fold

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{parquet_path}'"
        )

        def counts(where: str) -> list[int]:
            rows = con.execute(
                f"SELECT ({duck_char_fold('ng')}) % {m} AS bucket, "
                f"COUNT(*) AS n FROM ({_duck_ngram_rel(where)}) GROUP BY 1"
            ).fetchall()
            out = [0] * m
            for b, n in rows:
                out[int(b)] = int(n)
            return out

        _dsir_cache[key] = dsir_logratio_grid(
            counts("WHERE lang = 'en'"), counts(""), m
        )
    return _dsir_cache[key]


def _build_dsir_oracle() -> str | None:
    grid = dsir_grid_np(os.path.join(ORACLE_SF_DIR, "documents.parquet"))
    if grid is None:
        return None
    from ..operators.text import duck_char_fold

    glit = "[" + ", ".join(str(v) for v in grid) + "]"
    return f"""
    WITH ng AS (
      WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS tk FROM documents
      ), uni AS (
        SELECT doc_id, unnest(tk) AS ng FROM toks
      ), bi AS (
        SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS ng
        FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
              FROM toks WHERE len(tk) >= 2)
      )
      SELECT doc_id, ng FROM uni UNION ALL SELECT doc_id, ng FROM bi
    ), scored AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_ngrams,
             CAST(SUM(({glit})[(({duck_char_fold('ng')}) % {_DSIR_M}) + 1])
                  AS BIGINT) AS logw_micro
      FROM ng GROUP BY doc_id
    ), alldocs AS (
      -- NULL-text docs yield no ng rows but must still compete at logw 0
      -- (the Spark side's left-join-back-with-COALESCE contract)
      SELECT d.doc_id,
             CAST(COALESCE(s.n_ngrams, 0) AS BIGINT) AS n_ngrams,
             CAST(COALESCE(s.logw_micro, 0) AS BIGINT) AS logw_micro
      FROM documents d LEFT JOIN scored s USING (doc_id)
    )
    SELECT doc_id, n_ngrams, logw_micro
    FROM alldocs ORDER BY logw_micro DESC, doc_id LIMIT {_DSIR_K}"""


@query(
    "curation_dsir_select",
    oracle=_build_dsir_oracle(),
    tags=("llm", "curation"),
)
def curation_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169,
    operators/selection.py): hashed-n-gram importance weights against an
    English-target / full-corpus pair of bucket distributions fitted ONCE
    from the ORACLE_SF_DIR gate corpus (train-once-apply-at-any-scale —
    the whiten/ann_ivf convention, so query and oracle agree at every sf),
    then the deterministic top-k resampling cut. All-JVM scoring: bucket
    assignment and the literal-grid lookup are pure projections; the only
    shuffles are the doc-keyed sum and the TakeOrdered gather."""
    from ..operators.selection import dsir_select

    grid = dsir_grid_np(os.path.join(ORACLE_SF_DIR, "documents.parquet"))
    if grid is None:
        grid = dsir_grid_np(os.path.join(sf_dir, "documents.parquet"))
    if grid is None:
        raise FileNotFoundError(f"no documents parquet under {sf_dir}")
    t = load_tables(spark, sf_dir, "documents")
    return dsir_select(t.documents, grid, _DSIR_K)


#: Per-source whitespace-token budget for the mixture query below. At the
#: gate sf (0.01: ~250 docs x ~45 tokens per source) the budget cuts each
#: source to roughly its first ~18 hash-ordered documents; at sf0.001 most
#: of each source fits. The crossing document is NOT kept (<= budget rule),
#: but rank 1 always is, so a source whose first draw is a 900-token
#: monster still contributes it.
_TOKEN_BUDGET = 800


@query(
    "curation_token_budget_mixture",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens,
             {T.duck_char_fold("md5('budget' || CAST(doc_id AS VARCHAR))")}
               AS rk
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY rk, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY rk, doc_id)
               AS rnk
      FROM d
    )
    SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
    FROM c WHERE cum <= {_TOKEN_BUDGET} OR rnk = 1
    ORDER BY source, cum_tokens, doc_id
    """,
    tags=("llm", "curation"),
)
def curation_token_budget_mixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-budget mixture sampling: each source contributes documents —
    in a deterministic salted-hash order, i.e. a reproducible random
    draw — until a fixed whitespace-token budget fills. This is how
    pretraining mixtures are actually materialized ("200 B tokens of
    web, 30 B of code"): budgets are in TOKENS, never document counts,
    because per-doc length varies 10x across sources. The
    budget-crossing document is dropped (cum <= B), but every source
    keeps its first draw so tiny budgets still sample all sources.

    Plan: pure projection (token count, hash key) → ONE source-keyed
    window shuffle carrying the running sum and the rank together →
    filter. Window populations are per-source corpus shares; at 100 TB
    a dominant source is the known skew case and the documented swap is
    pre-aggregation by (source, hash-bucket) before a bucket-level scan
    — the per-doc window stays exact here. Integer token counts sum
    exactly in any engine."""
    t = load_tables(spark, sf_dir, "documents")
    from pyspark.sql.window import Window as W

    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    d = t.documents.select(
        "doc_id", "source", n_tok.alias("n_tokens"),
        C.shuffle_rank("doc_id", salt="budget").alias("rk"),
    )
    w = W.partitionBy("source").orderBy("rk", "doc_id")
    c = d.select(
        "doc_id", "source", "n_tokens",
        F.sum("n_tokens").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).cast("long").alias("cum_tokens"),
        F.row_number().over(w).alias("rnk"),
    )
    return (
        c.filter(
            (F.col("cum_tokens") <= _TOKEN_BUDGET) | (F.col("rnk") == 1)
        )
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("source", "cum_tokens", "doc_id")
    )


@query(
    "curation_lang_upsample_plan",
    oracle="""
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY lang),
    m AS (SELECT MAX(n_docs) AS mx FROM c)
    SELECT lang, n_docs,
           CAST(mx // n_docs AS BIGINT) AS copies,
           CAST(n_docs * (mx // n_docs) AS BIGINT) AS docs_after
    FROM c, m ORDER BY lang
    """,
    tags=("llm", "curation"),
)
def curation_lang_upsample_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Language-balancing upsample plan: integer replication factors that
    bring every language toward the largest one (copies = ⌊max/n⌋ — whole
    copies, the factor multilingual pretraining recipes actually apply;
    fractional epochs are a sampling weight, not a copy count). Emits the
    PLAN (per-lang factor + resulting count); applying it is one explode —
    planning is separated from applying so the plan itself is reviewable
    and oracle-checkable.

    Plan shape: one lang-keyed agg; the max is a 1-row broadcast onto ≤
    |langs| rows. Nothing scales with corpus size past the first agg."""
    t = load_tables(spark, sf_dir, "documents")
    c = t.documents.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    m = c.agg(F.max("n_docs").alias("mx"))
    copies = F.floor(F.col("mx") / F.col("n_docs")).cast("long")
    return (
        c.crossJoin(F.broadcast(m))
        .select(
            "lang", "n_docs", copies.alias("copies"),
            (F.col("n_docs") * copies).cast("long").alias("docs_after"),
        )
        .orderBy("lang")
    )


def _build_weighted_sample_oracle() -> str:
    from ..operators.curation import duck_split_bucket

    return f"""
    WITH banded AS (
      SELECT doc_id, n_chars,
             CASE WHEN n_chars >= 350 THEN 'long'
                  WHEN n_chars >= 200 THEN 'medium'
                  ELSE 'short' END AS band,
             CASE WHEN n_chars >= 350 THEN 8000
                  WHEN n_chars >= 200 THEN 5000
                  ELSE 2000 END AS keep_thresh,
             {duck_split_bucket('doc_id')} AS bucket
      FROM documents
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN bucket < keep_thresh THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN bucket < keep_thresh THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_kept
    FROM banded
    GROUP BY band ORDER BY band
    """


@query(
    "curation_quality_weighted_sample",
    oracle=_build_weighted_sample_oracle(),
    tags=("llm", "curation"),
)
def curation_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: long documents keep at
    80 %, medium at 50 %, short at 20 % — the keep/drop decision is a
    pure projection (portable md5 bucket vs a per-band threshold, the
    curation_hash_split convention), so the sample is reproducible under
    re-runs, repartitioning, and engine swaps, and composes with the
    leakage-safe split. Reports per-band totals, kept counts, and kept
    chars. Zero shuffle before the 3-row aggregate."""
    from pyspark.sql import functions as F

    from ..operators.curation import split_bucket

    docs = load_tables(spark, sf_dir, "documents").documents
    banded = docs.select(
        "doc_id",
        "n_chars",
        F.when(F.col("n_chars") >= 350, "long")
        .when(F.col("n_chars") >= 200, "medium")
        .otherwise("short")
        .alias("band"),
        F.when(F.col("n_chars") >= 350, 8000)
        .when(F.col("n_chars") >= 200, 5000)
        .otherwise(2000)
        .alias("keep_thresh"),
        split_bucket("doc_id").alias("bucket"),
    )
    kept = (F.col("bucket") < F.col("keep_thresh")).cast("long")
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.sum(F.col("n_chars") * kept).cast("long").alias("chars_kept"),
        )
        .orderBy("band")
    )


# Wave 15 — two tables operational pipelines publish constantly: the
# multilingual temperature-sampling plan (mT5 arXiv:2010.11934 §3.1 /
# XLM-R arXiv:1911.02116: p_i ∝ share_i^α) and the A/B sample-ratio-
# mismatch check (the chi-square guard every experimentation platform
# runs BEFORE reading a z-statistic — a biased split invalidates
# events_ab_conversion's readout).
_TEMP_ALPHAS = (300, 700)  # α in permille: 0.3 (aggressive) and 0.7


@query(
    "curation_temperature_sampling_plan",
    oracle=f"""
    WITH per_src AS (
      SELECT source, CAST(SUM(len(list_filter(
               string_split_regex(text, '\\s+'), w -> len(w) > 0)))
             AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS n_total FROM per_src),
    raw AS (
      SELECT a.alpha, p.source, p.n_tokens, tot.n_total,
             CAST(ROUND(exp((a.alpha / 1000.0)
                  * ln(CAST(p.n_tokens AS DOUBLE) / tot.n_total))
                  * 1000000000) AS BIGINT) AS raw_w
      FROM per_src p
      CROSS JOIN (VALUES {", ".join(f"({a})" for a in _TEMP_ALPHAS)})
        AS a(alpha)
      CROSS JOIN tot
    ),
    den AS (
      SELECT alpha, CAST(SUM(raw_w) AS BIGINT) AS sum_raw
      FROM raw GROUP BY alpha
    )
    SELECT CAST(r.alpha AS BIGINT) AS alpha_permille, r.source, r.n_tokens,
           CAST(FLOOR(1000.0 * r.n_tokens / r.n_total) AS BIGINT)
             AS share_permille,
           CAST(FLOOR(1000.0 * r.raw_w / d.sum_raw) AS BIGINT)
             AS weight_permille,
           CAST(FLOOR(1000000.0 * r.raw_w * r.n_total / d.sum_raw
                      / r.n_tokens) AS BIGINT) AS upsample_micro
    FROM raw r JOIN den d USING (alpha)
    ORDER BY alpha_permille, source
    """,
    tags=("llm", "curation"),
)
def curation_temperature_sampling_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-based source sampling plan (the mT5/XLM-R scheme:
    sampling probability ∝ natural share^α): per source and per α ∈
    {0.3, 0.7}, the natural token share, the renormalized sampling
    weight, and the effective upsample factor weight/share — the table
    that shows exactly how hard each tail source gets boosted before
    anyone commits to a mixture. Determinism: the ONLY float per row is
    share^α = exp(α·ln share), micro-rounded to an integer raw weight
    per source; the denominator is then an INTEGER sum (order-free) and
    every output column is integer arithmetic on top — the same
    one-float-then-fixed-point recipe as the LM scorers. Bounded
    relations end-to-end: one source rollup, a ×2 α explode of the
    20-row source dimension."""
    docs = load_tables(spark, sf_dir, "documents").documents
    per_src = docs.groupBy("source").agg(
        F.sum(
            F.size(
                F.filter(
                    F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                    lambda x: F.length(x) > 0,
                )
            )
        )
        .cast("long")
        .alias("n_tokens")
    )
    tot = per_src.agg(F.sum("n_tokens").cast("long").alias("n_total"))
    alphas = spark.createDataFrame(
        [(a,) for a in _TEMP_ALPHAS], "alpha long"
    )
    raw = (
        per_src.crossJoin(F.broadcast(alphas))
        .crossJoin(F.broadcast(tot))
        .select(
            "alpha",
            "source",
            "n_tokens",
            "n_total",
            F.round(
                F.exp(
                    (F.col("alpha") / 1000.0)
                    * F.log(
                        F.col("n_tokens").cast("double") / F.col("n_total")
                    )
                )
                * 1_000_000_000
            )
            .cast("long")
            .alias("raw_w"),
        )
    )
    den = raw.groupBy("alpha").agg(
        F.sum("raw_w").cast("long").alias("sum_raw")
    )
    return (
        raw.join(F.broadcast(den), "alpha")
        .select(
            F.col("alpha").alias("alpha_permille"),
            "source",
            "n_tokens",
            F.floor(F.lit(1000.0) * F.col("n_tokens") / F.col("n_total"))
            .cast("long")
            .alias("share_permille"),
            F.floor(F.lit(1000.0) * F.col("raw_w") / F.col("sum_raw"))
            .cast("long")
            .alias("weight_permille"),
            F.floor(
                F.lit(1_000_000.0)
                * F.col("raw_w")
                * F.col("n_total")
                / F.col("sum_raw")
                / F.col("n_tokens")
            )
            .cast("long")
            .alias("upsample_micro"),
        )
        .orderBy("alpha_permille", "source")
    )


# Weighted reservoir sampling, A-Res keys (Efraimidis & Spirakis, IPL
# 2006) — THE distributed weighted-sample primitive: assign each item
# the key u^(1/w) (equivalently ln(u)/w) with u a deterministic uniform
# from its id, and take the top-k by key. Keys are independent per item,
# so the sample is one TakeOrdered (per-partition heaps, mergeable) —
# no sequential reservoir state, which is exactly why it scales where
# Vitter's Algorithm R does not. Deterministic u from an integer hash
# (reproducible pipelines re-draw the SAME sample); the single float
# (ln of an identical double ratio) is micro-rounded per row before the
# rank — the BM25 float contract.
_RES_P = (1 << 31) - 1


_RES_A = 0x9E3779B1 % _RES_P


_RES_B = 0x85EBCA77 % _RES_P


_RES_K = 20


@query(
    "curation_weighted_reservoir",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             CAST(ROUND(1000000.0 * ln(
               ((({_RES_A} * doc_id + {_RES_B}) % {_RES_P}) + 1.0)
               / ({_RES_P} + 1.0)
             ) / n_chars) AS BIGINT) AS key_micro
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, weight, key_micro FROM keyed
    ORDER BY key_micro DESC, doc_id LIMIT {_RES_K}
    """,
    tags=("llm", "curation"),
)
def curation_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 weighted sample by A-Res key (IPL 2006), weight = document
    length: key_micro = round(1e6 * ln(u)/w) with u a deterministic
    uniform from the doc id — longer documents are proportionally more
    likely, the draw is reproducible across runs and engines, and the
    sample is ONE TakeOrdered over a pure projection (per-partition
    heaps, no shuffle beyond the k-row merge; the canonical distributed
    reservoir). Zero-weight docs are excluded in both engines."""
    docs = load_tables(spark, sf_dir, "documents").documents
    u = (
        ((F.lit(_RES_A) * F.col("doc_id") + F.lit(_RES_B)) % _RES_P) + 1.0
    ) / F.lit(float(_RES_P + 1))
    key = F.round(F.lit(1000000.0) * F.log(u) / F.col("n_chars")).cast("long")
    return (
        docs.filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            key.alias("key_micro"),
        )
        .orderBy(F.desc("key_micro"), F.asc("doc_id"))
        .limit(_RES_K)
    )


# Pareto front / skyline (Börzsönyi, Kossmann & Stocker, "The Skyline
# Operator", ICDE 2001): the multi-criteria selection primitive the
# relational layer lacked. Dims: n_tokens (volume) and
# n_distinct_tokens (vocabulary richness) — a doc is on the front iff
# no other doc is >= in both and > in at least one. The 2-D skyline
# has an exact one-pass form: group by x, keep each x's max-y, then a
# strictly-preceding running max over x DESC — a doc survives iff
# y = ymax(x) AND ymax(x) > max over all x' > x (ties on both dims are
# mutually non-dominating and all survive). Everything integer.
@query(
    "curation_pareto_front",
    oracle=f"""
    WITH stats AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS x,
             CAST(len(list_distinct(toks)) AS BIGINT) AS y
      FROM (SELECT doc_id, {TOKS} AS toks FROM documents)
    ),
    perx AS (
      SELECT x, CAST(MAX(y) AS BIGINT) AS ymax FROM stats GROUP BY x
    ),
    runmax AS (
      SELECT x, ymax,
             MAX(ymax) OVER (ORDER BY x DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prevmax
      FROM perx
    ),
    front_x AS (
      SELECT x, ymax FROM runmax
      WHERE prevmax IS NULL OR ymax > prevmax
    )
    SELECT s.doc_id, s.x AS n_tokens, s.y AS n_distinct_tokens
    FROM stats s JOIN front_x f ON f.x = s.x AND f.ymax = s.y
    ORDER BY s.x DESC, s.doc_id
    """,
    tags=("llm", "curation"),
)
def curation_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of the corpus over (token volume, vocabulary richness):
    the docs no other doc dominates — the multi-criteria shortlist a
    curation pass starts from. Plan: one tokenize aggregate to
    (doc, x, y); the front is computed on the x-dimension relation
    (per-x max + one strictly-preceding running max), then one keyed
    join back — the doc grain is touched twice and never pairwise
    (the naive skyline is O(n²); this is the sort-based O(n log n)
    form, exact for 2 dims)."""
    from ..operators.text import tokens

    docs = load_tables(spark, sf_dir, "documents").documents
    t = tokens("text")
    stats = docs.select(
        "doc_id",
        F.size(t).cast("long").alias("x"),
        F.size(F.array_distinct(t)).cast("long").alias("y"),
    )
    perx = stats.groupBy("x").agg(F.max("y").cast("long").alias("ymax"))
    runmax = perx.select(
        "x",
        "ymax",
        F.max("ymax")
        .over(
            Window.orderBy(F.desc("x")).rowsBetween(
                Window.unboundedPreceding, -1
            )
        )
        .alias("prevmax"),
    )
    front_x = runmax.filter(
        F.col("prevmax").isNull() | (F.col("ymax") > F.col("prevmax"))
    ).select(F.col("x").alias("fx"), F.col("ymax").alias("fy"))
    return (
        stats.join(
            F.broadcast(front_x),
            (F.col("x") == F.col("fx")) & (F.col("y") == F.col("fy")),
        )
        .select(
            "doc_id",
            F.col("x").alias("n_tokens"),
            F.col("y").alias("n_distinct_tokens"),
        )
        .orderBy(F.desc("n_tokens"), "doc_id")
    )


@query(
    "curation_sample_apportionment",
    oracle=f"""
    WITH per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM per),
    q AS (
      SELECT source, n_docs,
             CAST({APPORTION_BUDGET} * n_docs // (SELECT n FROM tot)
                  AS BIGINT) AS quota_floor,
             CAST({APPORTION_BUDGET} * n_docs % (SELECT n FROM tot)
                  AS BIGINT) AS rem
      FROM per
    ),
    seats AS (
      SELECT CAST({APPORTION_BUDGET} - SUM(quota_floor) AS BIGINT) AS r
      FROM q
    ),
    ranked AS (
      SELECT source, n_docs, quota_floor, rem,
             CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS BIGINT)
               AS rk
      FROM q
    )
    SELECT source, n_docs, quota_floor,
           CAST(CASE WHEN rk <= (SELECT r FROM seats) THEN 1 ELSE 0 END
                AS BIGINT) AS extra,
           quota_floor + CASE WHEN rk <= (SELECT r FROM seats)
                         THEN 1 ELSE 0 END AS alloc
    FROM ranked ORDER BY source
    """,
    tags=("llm", "curation"),
)
def curation_sample_apportionment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hamilton largest-remainder apportionment of a {100}-doc sampling
    budget across sources: exact integer floor quotas + remainder-ranked
    extra seats (ties to source asc). Σ alloc == budget and every
    source's allocation is within 1 of its exact proportional share —
    the quota property, pinned. One source rollup + one source-dimension
    rank window."""
    docs = load_tables(spark, sf_dir, "documents").documents
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return hamilton_alloc(per, "n_docs").orderBy("source")


# Temperature-scaled mixture weights (Lample & Conneau, NeurIPS 2019;
# Arivazhagan et al., arXiv:1907.05019 — sampling sources with
# p_i ∝ n_i^α flattens the head and upweights the tail, THE standard
# multilingual/multi-source LLM sampling rule): per-source shares at
# α = 1 (proportional), 1/2 and 1/4. α restricted to inverse powers of
# two ON PURPOSE: sqrt is IEEE-correctly-rounded in both engines, so
# sqrt and sqrt∘sqrt are bit-identical cross-engine, while a generic
# pow(x, 0.7) is libm-dependent — the weights stay one-correctly-
# rounded-float-then-micro-round exact.
@query(
    "curation_temperature_mixture",
    oracle="""
    WITH per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents
      GROUP BY source
    ),
    w AS (
      SELECT source, n,
             n AS w1,
             CAST(FLOOR(1000000 * sqrt(CAST(n AS DOUBLE)) + 0.5)
                  AS BIGINT) AS w05,
             CAST(FLOOR(1000000 * sqrt(sqrt(CAST(n AS DOUBLE))) + 0.5)
                  AS BIGINT) AS w025
      FROM per
    ),
    tot AS (
      SELECT CAST(SUM(w1) AS BIGINT) AS t1,
             CAST(SUM(w05) AS BIGINT) AS t05,
             CAST(SUM(w025) AS BIGINT) AS t025
      FROM w
    )
    SELECT w.source, w.n AS n_docs,
           CAST(1000000 * w.w1 // t.t1 AS BIGINT) AS share_prop_micro,
           CAST(1000000 * w.w05 // t.t05 AS BIGINT) AS share_t05_micro,
           CAST(1000000 * w.w025 // t.t025 AS BIGINT) AS share_t025_micro
    FROM w CROSS JOIN tot t
    ORDER BY w.source
    """,
    tags=("llm", "curation"),
)
def curation_temperature_mixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source sampling shares (micro) at temperature α = 1, 1/2,
    1/4 — the flattening ladder a mixture designer sweeps before
    committing a training mix. One source-keyed aggregate + a broadcast
    scalar; the n^α weights are sqrt-chains (bit-identical IEEE),
    micro-rounded half-up, shares integer-exact."""

    per = load_tables(spark, sf_dir, "documents").documents.groupBy(
        "source"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = per.select(
        "source",
        "n",
        F.col("n").alias("w1"),
        F.floor(
            F.lit(1_000_000.0) * F.sqrt(F.col("n").cast("double"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("w05"),
        F.floor(
            F.lit(1_000_000.0)
            * F.sqrt(F.sqrt(F.col("n").cast("double")))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("w025"),
    )
    tot = w.agg(
        F.sum("w1").cast("long").alias("t1"),
        F.sum("w05").cast("long").alias("t05"),
        F.sum("w025").cast("long").alias("t025"),
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n").alias("n_docs"),
            idiv_col(F.col("w1"), F.col("t1"), scale=1_000_000).alias(
                "share_prop_micro"
            ),
            idiv_col(F.col("w05"), F.col("t05"), scale=1_000_000).alias(
                "share_t05_micro"
            ),
            idiv_col(F.col("w025"), F.col("t025"), scale=1_000_000).alias(
                "share_t025_micro"
            ),
        )
        .orderBy("source")
    )
