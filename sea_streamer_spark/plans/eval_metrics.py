"""Estimator evaluation: language-ID confusion, count-min error and AMS F2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as T
from ..sources.tables import load_tables
from .registry import query


def _duck_str_list(words) -> str:
    """DuckDB list literal of strings (marker vocabularies are tiny)."""
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _langid_confusion_oracle() -> str:
    langs = sorted(T.LANG_MARKERS)
    score_cols = ", ".join(
        f"CAST(len(list_filter(tk, w -> list_contains("
        f"{_duck_str_list(T.LANG_MARKERS[lang])}, w))) AS BIGINT) AS s_{lang}"
        for lang in langs
    )
    greatest = ", ".join(f"s_{l}" for l in langs)
    # first language (sorted order) reaching the max wins — the exact
    # tie-break operators/text.language_id applies
    whens = " ".join(
        f"WHEN s_{l} = GREATEST({greatest}) THEN '{l}'" for l in langs
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, {T.duck_tokens("text")} AS tk FROM documents
    ), scores AS (
      SELECT doc_id, lang, {score_cols} FROM toks
    ), pred AS (
      SELECT doc_id, lang,
             CASE WHEN GREATEST({greatest}) = 0 THEN 'unknown'
                  {whens} END AS pred_lang
      FROM scores
    )
    SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2 ORDER BY lang, pred_lang
    """


@query(
    "text_langid_confusion",
    oracle=_langid_confusion_oracle(),
    tags=("llm", "text", "eval"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the marker-heuristic classifier's
    predictions against the labeled ``lang`` column — the eval table read
    before trusting a language filter (off-diagonal mass = docs a
    lang-gated pipeline would mis-route; languages OUTSIDE the marker
    vocabulary, fr/zh here, show exactly how they leak into en/es/de or
    'unknown'). The oracle re-derives the classifier itself — same marker
    lists, same argmax, same first-wins tie-break over sorted language
    order — so classifier drift, not just aggregation bugs, turns the
    row red.

    Plan: the scorer is a zero-shuffle projection (array_contains folds,
    JVM-side); one (lang, pred)-keyed agg whose exchange carries ≤
    |langs|² × partitions rows. Linear always."""
    t = load_tables(spark, sf_dir, "documents")
    pred = T.language_id(t.documents).select("doc_id", "pred_lang")
    return (
        t.documents.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


# Wave 14 — the measured-error discipline applied to the Count-Min
# sketch (Cormode & Muthukrishnan 2005): for the corpus's heavy hitters,
# exact count vs sketch estimate vs the one-sided overestimate. The CMS
# guarantee (estimate ≥ exact always; overestimate ≤ εN w.h.p.) is the
# kind of claim that silently erodes when someone changes the hash
# family or width — this row set turns that into a value-hashed fact.
def _build_cms_eval_oracle() -> str:
    from ..operators.sketch import CMS_AB
    from ..operators.text import MOD, duck_char_fold

    width = 1024
    ab_vals = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(CMS_AB))
    return f"""
    WITH wc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS w
            FROM documents) WHERE len(w) > 0 GROUP BY w
    ),
    hh AS (SELECT w, c, {duck_char_fold('w')} AS h FROM wc),
    ab(j, a, b) AS (VALUES {ab_vals}),
    grid AS (
      SELECT ab.j, ((ab.a * hh.h + ab.b) % {MOD}) % {width} AS k,
             CAST(SUM(hh.c) AS BIGINT) AS cnt
      FROM hh CROSS JOIN ab GROUP BY ab.j, k
    ),
    top AS (SELECT w, c, h FROM hh ORDER BY c DESC, w LIMIT 10),
    est AS (
      SELECT t.w, t.c, CAST(MIN(g.cnt) AS BIGINT) AS e
      FROM top t CROSS JOIN ab
      JOIN grid g ON g.j = ab.j
        AND g.k = ((ab.a * t.h + ab.b) % {MOD}) % {width}
      GROUP BY t.w, t.c
    )
    SELECT w AS word, c AS exact_count, e AS cms_estimate,
           CAST(e - c AS BIGINT) AS overestimate
    FROM est ORDER BY exact_count DESC, word"""


@query(
    "sketch_cms_error_eval",
    oracle=_build_cms_eval_oracle(),
    tags=("llm", "sketch", "eval"),
)
def sketch_cms_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch error eval (Cormode & Muthukrishnan 2005) on the
    corpus's top-10 words: exact count, CMS estimate (depth 4 × width
    1024, the operators/sketch.py defaults), and the one-sided
    overestimate — which the CMS construction guarantees is ≥ 0 and
    bounds by εN w.h.p. A red row here means the hash family, width, or
    merge arithmetic drifted. The sketch is built DISTRIBUTED
    (map-side-combined (row, bucket) aggregate, d·w-bounded collect) and
    probed via the packed-row literal expression — the exact production
    path; the oracle rebuilds the identical grid in SQL from the same
    (a·h+b) % MOD % w family."""
    from ..operators.sketch import cms_build, cms_estimate_expr

    docs = load_tables(spark, sf_dir, "documents").documents
    words = docs.select(
        F.explode(
            F.filter(
                F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        ).alias("w")
    )
    model = cms_build(words, "w", width=1024)
    top = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "w")
        .limit(10)
    )
    return (
        top.select(
            F.col("w").alias("word"),
            "exact_count",
            cms_estimate_expr(model, F.col("w")).alias("cms_estimate"),
        )
        .select(
            "word",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("long")
            .alias("overestimate"),
        )
        .orderBy(F.col("exact_count").desc(), "word")
    )


# AMS F2 sketch (Alon, Matias & Szegedy, STOC 1996) — the second-moment
# estimator that completes the sketch family (CMS point queries, HLL
# cardinality, KMV similarity, bottom-k quantiles): F2 = sum(f_v^2) is
# the self-join size, the quantity a planner wants BEFORE running a
# skewed join. Each estimator X_i = sum_v f_v * s_i(v) with 4-wise-
# independent signs from a degree-3 polynomial hash mod the Mersenne
# prime 2^31-1 (products stay < 2^62 via stepwise reduction — BIGINT
# overflow is a CHECKED error in DuckDB); E[X_i^2] = F2 exactly. The
# query reports the measured relative error of the plain mean AND the
# median-of-means (the paper's boosting), both against exact F2 —
# entirely integer arithmetic (signs, counts, squares; medians of three
# integers as sum-max-min).
_AMS_P = (1 << 31) - 1


_AMS_D = 12  # estimators: 3 groups x 4 for the median-of-means


#: degree-3 coefficients per estimator (golden-ratio spread, the
#: MINHASH_AB convention) — shared verbatim by the Spark expressions and
#: the oracle SQL below, so the sign streams cannot drift.
_AMS_COEF = [
    (
        (0x9E3779B1 * (4 * i + 1)) % _AMS_P,
        (0x85EBCA77 * (4 * i + 2)) % _AMS_P,
        (0xC2B2AE35 * (4 * i + 3)) % _AMS_P,
        (0x27D4EB2F * (4 * i + 4)) % _AMS_P,
    )
    for i in range(_AMS_D)
]


def _ams_sign_sql(v: str, c: tuple[int, int, int, int]) -> str:
    """±1 sign from the degree-3 hash, stepwise mod (SQL)."""
    a3, a2, a1, a0 = c
    h = (
        f"((((({a3} * (({v} * {v}) % {_AMS_P})) % {_AMS_P}) * {v}) % {_AMS_P}"
        f" + ({a2} * (({v} * {v}) % {_AMS_P})) % {_AMS_P}"
        f" + ({a1} * {v}) % {_AMS_P} + {a0}) % {_AMS_P})"
    )
    return f"(CASE WHEN {h} % 2 = 1 THEN 1 ELSE -1 END)"


def _ams_sign_col(v, c: tuple[int, int, int, int]):
    """±1 sign from the degree-3 hash, stepwise mod (Spark column)."""
    a3, a2, a1, a0 = c
    v2 = (v * v) % _AMS_P
    h = (
        (F.lit(a3) * v2) % _AMS_P * v % _AMS_P
        + (F.lit(a2) * v2) % _AMS_P
        + (F.lit(a1) * v) % _AMS_P
        + F.lit(a0)
    ) % _AMS_P
    return F.when(h % 2 == 1, F.lit(1)).otherwise(F.lit(-1))


def _build_ams_oracle() -> str:
    xs = ", ".join(
        f"CAST(SUM(f * {_ams_sign_sql('user_id', c)}) AS BIGINT) AS x{i}"
        for i, c in enumerate(_AMS_COEF)
    )
    x2_sum = " + ".join(f"x{i} * x{i}" for i in range(_AMS_D))
    g = [
        " + ".join(f"x{i} * x{i}" for i in range(4 * k, 4 * k + 4))
        for k in range(3)
    ]
    return f"""
    WITH freq AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS f
      FROM events GROUP BY user_id
    ),
    est AS (
      SELECT CAST(SUM(f * f) AS BIGINT) AS f2_exact, {xs} FROM freq
    ),
    grouped AS (
      SELECT f2_exact,
             ({x2_sum}) AS sum_x2,
             ({g[0]}) AS g0, ({g[1]}) AS g1, ({g[2]}) AS g2
      FROM est
    ),
    final AS (
      SELECT f2_exact,
             sum_x2 // {_AMS_D} AS f2_est_mean,
             (g0 + g1 + g2 - GREATEST(g0, g1, g2)
                           - LEAST(g0, g1, g2)) // 4 AS f2_est_mom
      FROM grouped
    )
    SELECT CAST({_AMS_D} AS BIGINT) AS n_estimators, f2_exact,
           CAST(f2_est_mean AS BIGINT) AS f2_est_mean,
           CAST(f2_est_mom AS BIGINT) AS f2_est_mom,
           CAST(ABS(f2_est_mean - f2_exact) * 1000 // f2_exact AS BIGINT)
             AS err_mean_permille,
           CAST(ABS(f2_est_mom - f2_exact) * 1000 // f2_exact AS BIGINT)
             AS err_mom_permille
    FROM final
    """


@query(
    "sketch_ams_f2_estimate",
    oracle=_build_ams_oracle(),
    tags=("llm", "sketch", "eval"),
)
def sketch_ams_f2_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-moment estimate vs exact F2 over event user
    frequencies, with the measured relative error of the plain mean and
    the median-of-means (STOC 1996's boosting step) — the self-join-size
    sketch a planner consults before a skewed join. One user-keyed count
    (map-side partials), then 13 integer aggregates over the
    150-row frequency relation (12 sign-sums + exact F2); the sketch
    state is d integers regardless of stream size and merges by
    addition, so the shape is stream-scale-proof. Entirely integer
    arithmetic end-to-end — the oracle hash-matches exactly."""
    t = load_tables(spark, sf_dir, "events")
    freq = t.events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    aggs = [F.sum(F.col("f") * F.col("f")).cast("long").alias("f2_exact")]
    for i, c in enumerate(_AMS_COEF):
        aggs.append(
            F.sum(F.col("f") * _ams_sign_col(F.col("user_id"), c))
            .cast("long")
            .alias(f"x{i}")
        )
    est = freq.agg(*aggs)
    sum_x2 = sum(
        (F.col(f"x{i}") * F.col(f"x{i}") for i in range(_AMS_D)),
        F.lit(0).cast("long"),
    )
    gs = [
        sum(
            (F.col(f"x{i}") * F.col(f"x{i}") for i in range(4 * k, 4 * k + 4)),
            F.lit(0).cast("long"),
        )
        for k in range(3)
    ]
    g0, g1, g2 = gs
    mom_sum = g0 + g1 + g2 - F.greatest(g0, g1, g2) - F.least(g0, g1, g2)
    def _idiv(a, b):
        # exact integer floor division for non-negative operands: the
        # numerator is made exactly divisible before the double divide,
        # so no double-rounding boundary can disagree with DuckDB's //
        return ((a - (a % b)) / b).cast("long")

    grouped = est.select(
        "f2_exact",
        _idiv(sum_x2, F.lit(_AMS_D)).alias("f2_est_mean"),
        _idiv(mom_sum, F.lit(4)).alias("f2_est_mom"),
    )
    return grouped.select(
        F.lit(_AMS_D).cast("long").alias("n_estimators"),
        "f2_exact",
        "f2_est_mean",
        "f2_est_mom",
        _idiv(
            F.abs(F.col("f2_est_mean") - F.col("f2_exact")) * 1000,
            F.col("f2_exact"),
        ).alias("err_mean_permille"),
        _idiv(
            F.abs(F.col("f2_est_mom") - F.col("f2_exact")) * 1000,
            F.col("f2_exact"),
        ).alias("err_mom_permille"),
    )
