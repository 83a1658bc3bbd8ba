"""Corpus statistics over tokens: collocation LLR, word burstiness and
Heaps' law fits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .fragments import TOKS
from .registry import query


# Dunning log-likelihood-ratio collocations (Dunning, "Accurate Methods
# for the Statistics of Surprise and Coincidence", Computational
# Linguistics 1993): the classic significance test for bigram
# collocations, far better calibrated than PMI at low counts (the
# paper's whole point). G² over the 2×2 contingency table of
# (w1-first?, w2-second?) per adjacent bigram, in the entropy form
#     G² = 2·[Σ xlx(O) - Σ xlx(row) - Σ xlx(col) + xlx(N)]
# where xlx(x) = x·ln(x), xlx(0) = 0 — every argument an exact integer
# count, one double expression in a fixed association order, one
# milli-rounding (the F.log/ROUND(ln) parity recipe the NB/JSD/KN waves
# proved). Marginals are windows over the bigram-type relation (the
# df-as-window discipline), never re-derived aggregates joined back.

#: minimum observed bigram count for a reported collocation (Dunning's
#: test is exact at low counts but sub-5 pairs are noise at corpus
#: scale; the filter runs AFTER the marginal windows so R/C/N are the
#: true corpus marginals).
_G2_MIN_PAIR = 5


_G2_TOPK = 25


def _xlx_sql(x: str) -> str:
    return f"CASE WHEN {x} > 0 THEN CAST({x} AS DOUBLE) * ln(CAST({x} AS DOUBLE)) ELSE 0.0 END"


def _xlx_col(x):
    return F.when(
        x > 0, x.cast("double") * F.log(x.cast("double"))
    ).otherwise(F.lit(0.0))


@query(
    "text_collocation_llr",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
    ),
    bi AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM (
        SELECT t[i-1] AS w1, t[i] AS w2
        FROM (SELECT t, unnest(generate_series(2, len(t))) AS i FROM toks)
      ) GROUP BY w1, w2
    ),
    marg AS (
      SELECT w1, w2, n_pair,
             CAST(SUM(n_pair) OVER (PARTITION BY w1) AS BIGINT) AS n_w1,
             CAST(SUM(n_pair) OVER (PARTITION BY w2) AS BIGINT) AS n_w2,
             CAST(SUM(n_pair) OVER () AS BIGINT) AS n_tot
      FROM bi
    )
    SELECT w1, w2, n_pair, n_w1, n_w2,
           CAST(ROUND(2000.0 * (
             {_xlx_sql('n_pair')}
             + {_xlx_sql('(n_w1 - n_pair)')}
             + {_xlx_sql('(n_w2 - n_pair)')}
             + {_xlx_sql('(n_tot - n_w1 - n_w2 + n_pair)')}
             - {_xlx_sql('n_w1')}
             - {_xlx_sql('(n_tot - n_w1)')}
             - {_xlx_sql('n_w2')}
             - {_xlx_sql('(n_tot - n_w2)')}
             + {_xlx_sql('n_tot')}
           )) AS BIGINT) AS g2_milli
    FROM marg
    WHERE n_pair >= {_G2_MIN_PAIR}
    ORDER BY g2_milli DESC, w1, w2 LIMIT {_G2_TOPK}
    """,
    tags=("llm", "text", "stats"),
)
def text_collocation_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{25} bigram collocations by Dunning's G² log-likelihood ratio
    (entropy form over exact-integer contingency counts; one double
    expression, milli-rounded once). Plan: corpus tokenized once into
    the bigram-type relation; both marginals and the total are windows
    over that already-aggregated relation (vocab²-bounded, never
    event-grain); the report is a TakeOrdered top-k, not a global
    sort."""
    from ..operators.dedup import positional_shingles

    docs = load_tables(spark, sf_dir, "documents").documents
    bi = (
        positional_shingles(docs, k=2)
        .groupBy("sh")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .select(
            F.element_at(F.split("sh", " "), 1).alias("w1"),
            F.element_at(F.split("sh", " "), 2).alias("w2"),
            "n_pair",
        )
    )
    marg = bi.select(
        "w1",
        "w2",
        "n_pair",
        F.sum("n_pair").over(Window.partitionBy("w1")).cast("long").alias("n_w1"),
        F.sum("n_pair").over(Window.partitionBy("w2")).cast("long").alias("n_w2"),
        F.sum("n_pair").over(Window.partitionBy()).cast("long").alias("n_tot"),
    )
    o11 = F.col("n_pair")
    r1 = F.col("n_w1")
    c1 = F.col("n_w2")
    n = F.col("n_tot")
    g2_half = (
        _xlx_col(o11)
        + _xlx_col(r1 - o11)
        + _xlx_col(c1 - o11)
        + _xlx_col(n - r1 - c1 + o11)
        - _xlx_col(r1)
        - _xlx_col(n - r1)
        - _xlx_col(c1)
        - _xlx_col(n - c1)
        + _xlx_col(n)
    )
    return (
        marg.filter(F.col("n_pair") >= _G2_MIN_PAIR)
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            F.round(F.lit(2000.0) * g2_half).cast("long").alias("g2_milli"),
        )
        .orderBy(F.desc("g2_milli"), "w1", "w2")
        .limit(_G2_TOPK)
    )


# Word burstiness via the variance-to-mean ratio (Church & Gale,
# "Poisson mixtures", 1995; Katz, "Distribution of content words and
# phrases in text", 1996): content words are OVERdispersed (VMR >> 1 —
# they burst within few docs), function words are near-Poisson
# (VMR ≈ 1). With zero-inflated per-doc counts k_dw over ALL N docs,
#     VMR = Var/Mean = (N·Σk² - (Σk)²) / (N·Σk)
# — an exact integer ratio (numerator ≥ 0 by Cauchy-Schwarz), so the
# whole screen is integer end-to-end: no floats at all.
_BURST_MIN_TOTAL = 20


_BURST_TOPK = 20


@query(
    "text_word_burstiness",
    oracle=f"""
    WITH wc AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS k FROM (
        SELECT doc_id, unnest({TOKS}) AS w FROM documents
      ) GROUP BY doc_id, w
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
    per_w AS (
      SELECT w, CAST(SUM(k) AS BIGINT) AS tot,
             CAST(SUM(k * k) AS BIGINT) AS sq,
             CAST(COUNT(*) AS BIGINT) AS n_docs_with
      FROM wc GROUP BY w
    )
    SELECT w, tot AS n_total, n_docs_with,
           CAST(1000 * (n.nn * sq - tot * tot) // (n.nn * tot) AS BIGINT)
             AS vmr_milli
    FROM per_w CROSS JOIN n
    WHERE tot >= {_BURST_MIN_TOTAL}
    ORDER BY vmr_milli DESC, w LIMIT {_BURST_TOPK}
    """,
    tags=("llm", "text", "stats"),
)
def text_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 burstiest words by zero-inflated variance-to-mean ratio
    (milli; VMR > 1000 = overdispersed = content-word behavior). Exact
    integer arithmetic throughout — the zero-inflation is folded into
    the closed form rather than materializing N·V zero cells. Plan: one
    tokenize aggregate to (doc, word) counts, one word rollup, a 1-row
    broadcast count, TakeOrdered top-k."""
    from ..operators.text import tokens

    docs = load_tables(spark, sf_dir, "documents").documents
    wc = (
        docs.select("doc_id", F.explode(tokens("text")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    per_w = wc.groupBy("w").agg(
        F.sum("k").cast("long").alias("tot"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n_docs_with"),
    )
    return (
        per_w.crossJoin(F.broadcast(n))
        .filter(F.col("tot") >= _BURST_MIN_TOTAL)
        .select(
            "w",
            F.col("tot").alias("n_total"),
            "n_docs_with",
            idiv_col(
                F.lit(1000)
                * (F.col("nn") * F.col("sq") - F.col("tot") * F.col("tot")),
                F.col("nn") * F.col("tot"),
            ).alias("vmr_milli"),
        )
        .orderBy(F.desc("vmr_milli"), "w")
        .limit(_BURST_TOPK)
    )


# Heaps' law fit (Heaps 1978; Herdan 1960): vocabulary growth
# V(n) ≈ K·n^β over the corpus in doc_id order — the exponent β is the
# standard corpus-health covariate (β near 1 = unbounded novel tokens,
# low β = saturating vocabulary; feeds tokenizer-budget decisions).
# Checkpoints at doc-count deciles; V and n come from ONE window pass
# (new-terms-per-doc = terms whose FIRST occurrence is that doc, then a
# cumulative sum beside the cumulative token count); β is the exact
# integer OLS slope over the 10 micro-rounded (ln n, ln V) points, with
# the 1e6 scaling applied inside decimal space.
@query(
    "text_heaps_law_fit",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                            w -> len(w) > 0)) AS w
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM toks GROUP BY doc_id
    ),
    new_terms AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nv
      FROM (SELECT w, MIN(doc_id) AS doc_id FROM toks GROUP BY w)
      GROUP BY doc_id
    ),
    cum AS (
      SELECT p.doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY p.doc_id) AS BIGINT) AS r,
             CAST(SUM(p.n_tok) OVER (ORDER BY p.doc_id) AS BIGINT) AS tok_cum,
             CAST(SUM(COALESCE(nt.nv, 0)) OVER (ORDER BY p.doc_id) AS BIGINT)
               AS v_cum
      FROM per_doc p LEFT JOIN new_terms nt ON nt.doc_id = p.doc_id
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM per_doc),
    cps AS (
      SELECT c.r, c.tok_cum, c.v_cum,
             CAST(ROUND(ln(CAST(c.tok_cum AS DOUBLE)) * 1000000) AS BIGINT)
               AS x,
             CAST(ROUND(ln(CAST(c.v_cum AS DOUBLE)) * 1000000) AS BIGINT)
               AS y
      FROM cum c CROSS JOIN nd
      WHERE c.tok_cum > 0 AND c.v_cum > 0
        AND EXISTS (SELECT 1 FROM range(1, 11) q(q)
                    WHERE c.r = q.q * nd.n_docs // 10)
    ),
    ols AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM cps
    )
    SELECT k AS n_checkpoints,
           (SELECT n_docs FROM nd) AS n_docs,
           (SELECT MAX(tok_cum) FROM cps) AS n_tokens_total,
           (SELECT MAX(v_cum) FROM cps) AS vocab_total,
           CAST(1000000 * (k * sxy - sx * sy)
                // (k * sxx - sx * sx) AS BIGINT) AS beta_micro
    FROM ols
    """,
    tags=("llm", "text", "stats"),
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth exponent β (micro) by exact integer
    OLS over decile checkpoints of (ln cumulative tokens, ln cumulative
    vocabulary) in doc_id order. New-vocabulary counts come from each
    term's FIRST document (a term-keyed min + doc-keyed count — never a
    prefix re-scan); both cumulatives are one window over the doc
    dimension; the two ln's are the only floats, micro-rounded at the
    checkpoint before any cross-row arithmetic."""
    from pyspark.sql.window import Window

    from ..operators import text as T

    docs = load_tables(spark, sf_dir, "documents").documents
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(T.tokens("text"), lambda w: F.length(w) > 0)
        ).alias("w"),
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok")
    )
    new_terms = (
        toks.groupBy("w")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("nv"))
    )
    w_cum = Window.orderBy("doc_id").rangeBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        per_doc.join(new_terms, "doc_id", "left")
        .select(
            "doc_id",
            F.row_number().over(Window.orderBy("doc_id")).cast("long").alias("r"),
            F.sum("n_tok").over(w_cum).cast("long").alias("tok_cum"),
            F.sum(F.coalesce(F.col("nv"), F.lit(0)))
            .over(w_cum)
            .cast("long")
            .alias("v_cum"),
        )
    )
    nd = per_doc.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    qs = spark.range(1, 11).select(F.col("id").alias("q"))
    cp_ranks = (
        qs.crossJoin(F.broadcast(nd))
        .select(
            idiv_col(F.col("q") * F.col("n_docs"), F.lit(10)).alias("r")
        )
        .distinct()
    )
    cps = (
        cum.join(cp_ranks, "r")
        .filter((F.col("tok_cum") > 0) & (F.col("v_cum") > 0))
        .select(
            "r",
            "tok_cum",
            "v_cum",
            F.round(F.log(F.col("tok_cum").cast("double")) * 1_000_000)
            .cast("long")
            .alias("x"),
            F.round(F.log(F.col("v_cum").cast("double")) * 1_000_000)
            .cast("long")
            .alias("y"),
        )
    )
    ols = cps.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.max("tok_cum").cast("long").alias("n_tokens_total"),
        F.max("v_cum").cast("long").alias("vocab_total"),
    )
    return ols.crossJoin(F.broadcast(nd)).select(
        F.col("k").alias("n_checkpoints"),
        "n_docs",
        "n_tokens_total",
        "vocab_total",
        idiv_col(
            F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"),
            F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"),
            scale=1_000_000,
        ).alias("beta_micro"),
    )
