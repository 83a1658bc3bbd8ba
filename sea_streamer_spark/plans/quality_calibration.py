"""Quality-classifier calibration: reliability curves, isotonic fits,
Jelinek-Mercer EM, Brier/ECE and Youden thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .fragments import duck_gopher_pass
from .registry import query


def nb_chain_sql() -> str:
    """The shared NB-distillation oracle chain (labels -> words ->
    counts -> totals -> per-doc scores): single-sourced so the fidelity
    table and the calibration curve (quality_nb_calibration_curve) can
    never disagree about what the classifier scored."""
    return f"""{duck_gopher_pass()},
    words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
        FROM documents
      ) WHERE len(w) > 0
    ),
    trainw AS (
      SELECT words.w, labels.passes FROM words
      JOIN labels USING (doc_id) WHERE doc_id % 2 = 0
    ),
    cw AS (
      SELECT w,
             CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS cp,
             CAST(SUM(CASE WHEN passes THEN 0 ELSE 1 END) AS BIGINT) AS cf
      FROM trainw GROUP BY w
    ),
    tots AS (
      SELECT (SELECT CAST(SUM(cp) AS BIGINT) FROM cw) AS tp_tok,
             (SELECT CAST(SUM(cf) AS BIGINT) FROM cw) AS tf_tok,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cw) AS v,
             (SELECT CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT)
              FROM labels WHERE doc_id % 2 = 0) AS np_docs,
             (SELECT CAST(SUM(CASE WHEN passes THEN 0 ELSE 1 END) AS BIGINT)
              FROM labels WHERE doc_id % 2 = 0) AS nf_docs
    ),
    evalw AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS k
      FROM words WHERE doc_id % 2 = 1 GROUP BY doc_id, w
    ),
    contrib AS (
      SELECT e.doc_id,
             CAST(SUM(e.k * CAST(ROUND(ln(
               CAST(COALESCE(cw.cp, 0) + 1 AS DOUBLE)
               / CAST(tots.tp_tok + tots.v AS DOUBLE)) * 1000000)
               AS BIGINT)) AS BIGINT) AS sp,
             CAST(SUM(e.k * CAST(ROUND(ln(
               CAST(COALESCE(cw.cf, 0) + 1 AS DOUBLE)
               / CAST(tots.tf_tok + tots.v AS DOUBLE)) * 1000000)
               AS BIGINT)) AS BIGINT) AS sf
      FROM evalw e LEFT JOIN cw USING (w) CROSS JOIN tots
      GROUP BY e.doc_id
    ),
    scored AS (
      SELECT l.doc_id, l.passes AS truth,
             CAST(ROUND(ln(CAST(tots.np_docs AS DOUBLE)
                  / CAST(tots.np_docs + tots.nf_docs AS DOUBLE)) * 1000000)
               AS BIGINT) + COALESCE(c.sp, 0) AS score_pass,
             CAST(ROUND(ln(CAST(tots.nf_docs AS DOUBLE)
                  / CAST(tots.np_docs + tots.nf_docs AS DOUBLE)) * 1000000)
               AS BIGINT) + COALESCE(c.sf, 0) AS score_fail
      FROM labels l LEFT JOIN contrib c USING (doc_id) CROSS JOIN tots
      WHERE l.doc_id % 2 = 1
    )"""


def nb_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out docs with NB scores: (doc_id, truth, score_pass,
    score_fail) — the Spark half of nb_chain_sql, shared by the
    fidelity table and the calibration curve."""
    from ..operators import quality as Q

    docs = load_tables(spark, sf_dir, "documents").documents
    labels = Q.gopher_quality_flags(docs).select("doc_id", "passes")
    words = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        ).alias("w"),
    )
    trainw = words.filter(F.col("doc_id") % 2 == 0).join(labels, "doc_id")
    cw = trainw.groupBy("w").agg(
        F.sum(F.when(F.col("passes"), 1).otherwise(0)).cast("long").alias("cp"),
        F.sum(F.when(F.col("passes"), 0).otherwise(1)).cast("long").alias("cf"),
    )
    tots = (
        cw.agg(
            F.sum("cp").cast("long").alias("tp_tok"),
            F.sum("cf").cast("long").alias("tf_tok"),
            F.count(F.lit(1)).cast("long").alias("v"),
        )
        .crossJoin(
            labels.filter(F.col("doc_id") % 2 == 0).agg(
                F.sum(F.when(F.col("passes"), 1).otherwise(0))
                .cast("long")
                .alias("np_docs"),
                F.sum(F.when(F.col("passes"), 0).otherwise(1))
                .cast("long")
                .alias("nf_docs"),
            )
        )
    )

    def lp(cnt, tot_tok):
        return F.round(
            F.log(
                (F.coalesce(cnt, F.lit(0)) + 1).cast("double")
                / (tot_tok + F.col("v")).cast("double")
            )
            * 1_000_000
        ).cast("long")

    evalw = (
        words.filter(F.col("doc_id") % 2 == 1)
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    contrib = (
        evalw.join(cw, "w", "left")
        .crossJoin(F.broadcast(tots))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("k") * lp(F.col("cp"), F.col("tp_tok")))
            .cast("long")
            .alias("sp"),
            F.sum(F.col("k") * lp(F.col("cf"), F.col("tf_tok")))
            .cast("long")
            .alias("sf"),
        )
    )
    prior_p = F.round(
        F.log(F.col("np_docs").cast("double") / (F.col("np_docs") + F.col("nf_docs")).cast("double"))
        * 1_000_000
    ).cast("long")
    prior_f = F.round(
        F.log(F.col("nf_docs").cast("double") / (F.col("np_docs") + F.col("nf_docs")).cast("double"))
        * 1_000_000
    ).cast("long")
    scored = (
        labels.filter(F.col("doc_id") % 2 == 1)
        .join(contrib, "doc_id", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "doc_id",
            F.col("passes").alias("truth"),
            (prior_p + F.coalesce(F.col("sp"), F.lit(0))).alias("score_pass"),
            (prior_f + F.coalesce(F.col("sf"), F.lit(0))).alias("score_fail"),
        )
    )
    return scored


# Reliability (calibration) curve of the distilled NB quality classifier
# (the Niculescu-Mizil & Caruana 2005 diagnostic): bucket held-out docs
# by the classifier's integer log-odds margin and report the empirical
# pass rate per decile — a monotone curve means the margin is usable as
# a soft score (e.g. for temperature sampling); a flat one means only
# the argmax is trustworthy. Reuses quality_nb_distill_fidelity's score
# relation verbatim (module helper on the Spark side, shared CTE chain
# in the oracle) so the curve can never disagree with the confusion
# matrix published beside it. Margins stay integer micro log-odds —
# no sigmoid, so no new float surface.
def _build_nb_calibration_oracle() -> str:

    return f"""
    WITH {nb_chain_sql()},
    binned AS (
      SELECT truth, score_pass - score_fail AS margin,
             NTILE(10) OVER (ORDER BY score_pass - score_fail DESC, doc_id)
               AS decile
      FROM scored
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(1000 * SUM(CASE WHEN truth THEN 1 ELSE 0 END) // COUNT(*)
                AS BIGINT) AS pass_rate_permille,
           CAST(MIN(margin) AS BIGINT) AS margin_min,
           CAST(MAX(margin) AS BIGINT) AS margin_max
    FROM binned GROUP BY decile ORDER BY decile
    """


@query(
    "quality_nb_calibration_curve",
    oracle=_build_nb_calibration_oracle(),
    tags=("llm", "quality", "eval"),
)
def quality_nb_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability curve of the NB-distilled Gopher gate: held-out docs
    deciled by integer log-odds margin (best margin = decile 1, doc_id
    tie-break), with per-decile empirical pass rate and the margin
    range — read before using the margin as a soft quality score. The
    NTILE rides the held-out doc dimension (the selection_tradeoff
    precedent); every number is an exact integer."""
    from pyspark.sql.window import Window


    scored = nb_scored(spark, sf_dir).select(
        "doc_id", "truth", (F.col("score_pass") - F.col("score_fail")).alias("margin")
    )
    binned = scored.select(
        "truth",
        "margin",
        F.ntile(10)
        .over(Window.orderBy(F.desc("margin"), F.asc("doc_id")))
        .cast("long")
        .alias("decile"),
    )
    return (
        binned.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("truth"), 1).otherwise(0))
            .cast("long")
            .alias("n_pass"),
            F.min("margin").cast("long").alias("margin_min"),
            F.max("margin").cast("long").alias("margin_max"),
        )
        .select(
            "decile",
            "n_docs",
            "n_pass",
            idiv_col(F.lit(1000) * F.col("n_pass"), F.col("n_docs")).alias(
                "pass_rate_permille"
            ),
            "margin_min",
            "margin_max",
        )
        .orderBy("decile")
    )


# Isotonic (PAV) calibration of the NB margin (Zadrozny & Elkan, KDD
# 2002; Robertson/Wright/Dykstra's minimax characterization): the
# reliability curve (quality_nb_calibration_curve) shows per-decile pass rates;
# isotonic regression is what production calibrators fit on top. Pool
# Adjacent Violators has a closed form per bin — the minimax identity
#     g(i) = min_{j<=i} max_{k>=i} weightedmean(rate[j..k])
# (antitonic orientation: decile 1 = best margin, so the calibrated
# rate must be non-increasing in the decile index). Over 10 bins every
# segment mean is an exact rational with denominator <= n_eval; scaling
# to nano (1e9·dp // dn) preserves order AND equality exactly
# (distinct fractions with denominators <= n differ by >= 1/n² >> 1e-9
# at this n), so min/max run on integers and both engines agree
# bit-for-bit. The python pin runs REAL pooling PAV and asserts the
# minimax identity reproduces it.
def _build_isotonic_oracle() -> str:

    return f"""
    WITH {nb_chain_sql()},
    binned AS (
      SELECT truth,
             NTILE(10) OVER (ORDER BY score_pass - score_fail DESC, doc_id)
               AS decile
      FROM scored
    ),
    bins AS MATERIALIZED (
      SELECT CAST(decile AS BIGINT) AS i, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      FROM binned GROUP BY decile
    ),
    cum AS (
      SELECT i, n_docs, n_pass,
             SUM(n_docs) OVER (ORDER BY i) AS nn,
             SUM(n_pass) OVER (ORDER BY i) AS pp
      FROM bins
    ),
    seg AS (
      SELECT j.i AS j, k.i AS k,
             CAST(1000000000 * (k.pp - COALESCE(jm.pp, 0))
                  // (k.nn - COALESCE(jm.nn, 0)) AS BIGINT) AS r
      FROM cum j JOIN cum k ON j.i <= k.i
      LEFT JOIN cum jm ON jm.i = j.i - 1
    ),
    mx AS (
      SELECT b.i, s.j, CAST(MAX(s.r) AS BIGINT) AS mxr
      FROM bins b JOIN seg s ON s.j <= b.i AND s.k >= b.i
      GROUP BY b.i, s.j
    ),
    iso AS (SELECT i, CAST(MIN(mxr) AS BIGINT) AS iso_nano FROM mx GROUP BY i)
    SELECT b.i AS decile, b.n_docs, b.n_pass,
           CAST(1000 * b.n_pass // b.n_docs AS BIGINT) AS raw_rate_permille,
           iso.iso_nano AS iso_rate_nano,
           CAST(iso.iso_nano // 1000000 AS BIGINT) AS iso_rate_permille
    FROM bins b JOIN iso ON iso.i = b.i
    ORDER BY b.i
    """


@query(
    "quality_isotonic_calibration",
    oracle=_build_isotonic_oracle(),
    tags=("llm", "quality", "eval"),
)
def quality_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the NB reliability curve: per
    margin decile, the raw pass rate and the pooled-adjacent-violators
    fit via the exact-integer minimax identity (nano fixed-point).
    Plan: the decile table is the calibration curve's aggregation; all
    pooling relations live on the 10-row bin dimension (j<=i<=k segment
    triples — 220 rows), broadcast-joined; nothing touches doc grain
    after the first aggregate."""
    from pyspark.sql.window import Window as W

    scored = nb_scored(spark, sf_dir).select(
        "doc_id", "truth", (F.col("score_pass") - F.col("score_fail")).alias("margin")
    )
    bins = (
        scored.select(
            "truth",
            F.ntile(10)
            .over(W.orderBy(F.desc("margin"), F.asc("doc_id")))
            .cast("long")
            .alias("i"),
        )
        .groupBy("i")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("truth"), 1).otherwise(0))
            .cast("long")
            .alias("n_pass"),
        )
    )
    cum = bins.select(
        "i",
        "n_docs",
        "n_pass",
        F.sum("n_docs").over(W.orderBy("i")).alias("nn"),
        F.sum("n_pass").over(W.orderBy("i")).alias("pp"),
    )
    j = cum.select(
        F.col("i").alias("j"),
        (F.col("pp") - F.col("n_pass")).alias("pp_jm"),
        (F.col("nn") - F.col("n_docs")).alias("nn_jm"),
    )
    k = cum.select(F.col("i").alias("k"), "pp", "nn")
    seg = (
        j.join(k, F.col("j") <= F.col("k"))
        .select(
            "j",
            "k",
            idiv_col(
                F.lit(1_000_000_000) * (F.col("pp") - F.col("pp_jm")),
                F.col("nn") - F.col("nn_jm"),
            ).alias("r"),
        )
    )
    mx = (
        bins.select(F.col("i"))
        .join(seg, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.max("r").cast("long").alias("mxr"))
    )
    iso = mx.groupBy("i").agg(F.min("mxr").cast("long").alias("iso_nano"))
    return (
        bins.join(iso, "i")
        .select(
            F.col("i").alias("decile"),
            "n_docs",
            "n_pass",
            idiv_col(F.lit(1000) * F.col("n_pass"), F.col("n_docs")).alias(
                "raw_rate_permille"
            ),
            F.col("iso_nano").alias("iso_rate_nano"),
            idiv_col(F.col("iso_nano"), F.lit(1_000_000)).alias(
                "iso_rate_permille"
            ),
        )
        .orderBy("decile")
    )


# Jelinek-Mercer interpolation weight via held-out EM (Jelinek &
# Mercer 1980; Chen & Goodman 1999 §2.4 — "deleted interpolation", the
# classical way the bigram/unigram mixing weight is actually FIT rather
# than guessed): train ML bigram + add-one unigram on the even-doc
# half, then EM λ on the odd-doc positions:
#     γ_pos = λ·P_b / (λ·P_b + (1−λ)·P_u),   λ' = mean(γ)
# Ten synchronous iterations from λ=0.5. The whole EM is INTEGER
# arithmetic end-to-end — P_b = 10⁹·c12 // c1 and
# P_u = 10⁹·(c+1) // (N+V) are nano-scaled integer divisions, each
# round's responsibilities are γ_milli = 1000·λ·P_b // (λ·P_b +
# (1000−λ)·P_u), and λ' = Σγ // n — zero floats anywhere, so every
# engine reproduces every iterate bit-for-bit by construction.
_JM_ITERS = 10


def _build_jm_oracle() -> str:
    rounds = []
    for k in range(1, _JM_ITERS + 1):
        rounds.append(f"""
    it{k} AS MATERIALIZED (
      SELECT CAST(SUM(1000 * l.lam * p.pb
                      // (l.lam * p.pb + (1000 - l.lam) * p.pu))
                  // COUNT(*) AS BIGINT) AS lam
      FROM pos p CROSS JOIN it{k - 1} l
    )""")
    sel = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS iteration, it{k}.lam AS lambda_milli,"
        f" (SELECT CAST(COUNT(*) AS BIGINT) FROM pos) AS n_positions"
        f" FROM it{k}"
        for k in range(1, _JM_ITERS + 1)
    )
    from ..operators.text import duck_tokens

    toks = duck_tokens("text")
    return f"""
    WITH toks AS (
      SELECT doc_id, {toks} AS t FROM documents
    ),
    train_uni AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(t) AS w FROM toks WHERE doc_id % 2 = 0)
      GROUP BY w
    ),
    train_bi AS MATERIALIZED (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM (
        SELECT t[i-1] AS w1, t[i] AS w2
        FROM (SELECT t, unnest(generate_series(2, len(t))) AS i
              FROM toks WHERE doc_id % 2 = 0)
      ) GROUP BY w1, w2
    ),
    tot AS (
      SELECT (SELECT CAST(SUM(c1) AS BIGINT) FROM train_uni) AS n_tok,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM train_uni) AS v
    ),
    pos AS MATERIALIZED (
      SELECT CAST(CASE WHEN b.c12 IS NOT NULL
                  THEN 1000000000 * b.c12 // u.c1 ELSE 0 END AS BIGINT) AS pb,
             CAST(1000000000 * (COALESCE(u2.c1, 0) + 1)
                  // (tot.n_tok + tot.v) AS BIGINT) AS pu
      FROM (
        SELECT t[i-1] AS w1, t[i] AS w2
        FROM (SELECT t, unnest(generate_series(2, len(t))) AS i
              FROM toks WHERE doc_id % 2 = 1)
      ) p
      LEFT JOIN train_uni u ON u.w = p.w1
      LEFT JOIN train_uni u2 ON u2.w = p.w2
      LEFT JOIN train_bi b ON b.w1 = p.w1 AND b.w2 = p.w2
      CROSS JOIN tot
    ),
    it0 AS (SELECT CAST(500 AS BIGINT) AS lam),
    {",".join(rounds)}
    SELECT * FROM ({sel}) ORDER BY iteration
    """


@query(
    "quality_jm_lambda_em",
    oracle=_build_jm_oracle(),
    tags=("llm", "quality", "eval"),
)
def quality_jm_lambda_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deleted-interpolation EM: the bigram/unigram mixing weight λ
    (milli) fitted on held-out positions, one row per EM iteration —
    the convergence curve for the weight KN/Stupid-Backoff variants
    hard-code. Integer arithmetic end-to-end (nano-scaled component
    probabilities, milli responsibilities, exact integer mean), so
    'converged' is an exact fixpoint, not an epsilon. Plan: two
    count aggregations train the components; the held-out position
    relation is built once and cached; each EM round is ONE 1-row
    aggregate over it (λ rides a broadcast literal)."""
    from ..operators.dedup import positional_shingles
    from ..operators.text import tokens

    docs = load_tables(spark, sf_dir, "documents").documents
    train = docs.filter(F.col("doc_id") % 2 == 0)
    uni = (
        train.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    bi = (
        positional_shingles(train, k=2)
        .groupBy("sh")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .select(
            F.element_at(F.split("sh", " "), 1).alias("w1"),
            F.element_at(F.split("sh", " "), 2).alias("w2"),
            "c12",
        )
    )
    tot = uni.agg(
        F.sum("c1").cast("long").alias("n_tok"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    held = positional_shingles(
        docs.filter(F.col("doc_id") % 2 == 1), k=2
    ).select(
        F.element_at(F.split("sh", " "), 1).alias("w1"),
        F.element_at(F.split("sh", " "), 2).alias("w2"),
    )
    pos = (
        held.join(uni.withColumnRenamed("w", "w1"), "w1", "left")
        .join(
            uni.withColumnRenamed("w", "w2").withColumnRenamed("c1", "c1w2"),
            "w2",
            "left",
        )
        .join(bi, ["w1", "w2"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.when(
                F.col("c12").isNotNull(),
                idiv_col(F.lit(1_000_000_000) * F.col("c12"), F.col("c1")),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("pb"),
            idiv_col(
                F.lit(1_000_000_000) * (F.coalesce(F.col("c1w2"), F.lit(0)) + 1),
                F.col("n_tok") + F.col("v"),
            ).alias("pu"),
        )
        .cache()
    )
    try:
        n_positions = pos.count()
        lam = 500
        out = []
        for k in range(1, _JM_ITERS + 1):
            num = F.lit(1000) * F.lit(lam) * F.col("pb")
            den = F.lit(lam) * F.col("pb") + F.lit(1000 - lam) * F.col("pu")
            row = pos.agg(
                idiv_col(F.sum(idiv_col(num, den)), F.count(F.lit(1))).alias(
                    "lam"
                )
            ).collect()[0]
            lam = int(row["lam"])
            out.append((k, lam, n_positions))
    finally:
        pos.unpersist()
    return spark.createDataFrame(
        out, "iteration long, lambda_milli long, n_positions long"
    )


# Brier score + expected calibration error of the NB quality posterior
# (Brier 1950; ECE per Naeini et al., AAAI 2015): the two scalar
# calibration summaries beside the registered reliability CURVE — the
# curve shows where the classifier lies, Brier/ECE say how much, in one
# row a gate can threshold. Posterior p = σ(margin) is the ONE float,
# micro-rounded per doc (identical sigmoid expression both engines);
# Brier = Σ(p − y)² and ECE = Σ_b |Σ_b p − 1e6·pos_b| / n are then
# exact integer arithmetic with the squares carried in decimal/HUGEINT.
def _build_nb_brier_oracle() -> str:

    return f"""
    WITH {nb_chain_sql()},
    post AS (
      SELECT truth,
             CAST(ROUND(1000000 / (1 + exp(
               -CAST(score_pass - score_fail AS DOUBLE) / 1000000)))
               AS BIGINT) AS p
      FROM scored
    ),
    binned AS (
      SELECT truth, p, LEAST(9, p * 10 // 1000000) AS bin FROM post
    ),
    per_bin AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(p) AS BIGINT) AS sp,
             CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM binned GROUP BY bin
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM post) AS n_docs,
           (SELECT CAST(SUM(CAST(p - CASE WHEN truth THEN 1000000 ELSE 0 END
                    AS HUGEINT)
                  * (p - CASE WHEN truth THEN 1000000 ELSE 0 END))
                  // (COUNT(*) * 1000000) AS BIGINT)
            FROM post) AS brier_micro,
           (SELECT CAST(SUM(ABS(sp - 1000000 * pos)) // SUM(nb) AS BIGINT)
            FROM per_bin) AS ece_micro
    """


@query(
    "quality_nb_brier_ece",
    oracle=_build_nb_brier_oracle(),
    tags=("llm", "quality", "eval"),
)
def quality_nb_brier_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score (micro) and 10-bin expected calibration error (micro)
    of the NB-distilled Gopher gate's sigmoid posterior on the held-out
    split — completes the classifier eval family (confusion/metrics,
    AUC, reliability curve, now the two calibration scalars). One
    sigmoid per doc micro-rounded, then pure integer sums (squares in
    decimal)."""

    scored = nb_scored(spark, sf_dir)
    post = scored.select(
        "truth",
        F.round(
            F.lit(1_000_000)
            / (
                F.lit(1)
                + F.exp(
                    -(
                        F.col("score_pass") - F.col("score_fail")
                    ).cast("double")
                    / 1_000_000
                )
            )
        )
        .cast("long")
        .alias("p"),
    )
    binned = post.select(
        "truth",
        "p",
        F.least(F.lit(9), idiv_col(F.col("p") * 10, F.lit(1_000_000))).alias(
            "bin"
        ),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("p").cast("long").alias("sp"),
        F.sum(F.when(F.col("truth"), 1).otherwise(0)).cast("long").alias("pos"),
    )
    err = F.col("p") - F.when(F.col("truth"), F.lit(1_000_000)).otherwise(
        F.lit(0)
    )
    brier = post.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((err.cast("decimal(38,0)") * err).cast("decimal(38,0)")).alias(
            "se"
        ),
    )
    ece = per_bin.agg(
        F.sum(F.abs(F.col("sp") - F.lit(1_000_000) * F.col("pos")))
        .cast("long")
        .alias("abs_gap"),
        F.sum("nb").cast("long").alias("n_total"),
    )
    return brier.crossJoin(F.broadcast(ece)).select(
        "n_docs",
        idiv_col(F.col("se"), F.col("n_docs") * F.lit(1_000_000)).alias(
            "brier_micro"
        ),
        idiv_col(F.col("abs_gap"), F.col("n_total")).alias("ece_micro"),
    )


# Youden's J optimal threshold for the NB quality margin (Youden,
# Cancer 1950): sweep every distinct margin cutoff over the held-out
# docs, compute sensitivity + specificity − 1 at each, and report the
# maximizing cutoff with its ROC point — the operating point a
# production gate would actually pin. All exact integers: TP/FP ride a
# cumulative window over margins sorted descending (predict-pass =
# margin ≥ cutoff), J_milli = 1000·TP//P + 1000·TN//N − 1000, argmax
# tie-breaks to the SMALLER cutoff rank (the more permissive gate).
def _build_youden_oracle() -> str:

    return f"""
    WITH {nb_chain_sql()},
    m AS (
      SELECT doc_id, truth, score_pass - score_fail AS margin
      FROM scored
    ),
    tot AS (
      SELECT CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS p,
             CAST(SUM(CASE WHEN truth THEN 0 ELSE 1 END) AS BIGINT) AS neg
      FROM m
    ),
    sweep AS (
      SELECT margin,
             CAST(SUM(SUM(CASE WHEN truth THEN 1 ELSE 0 END))
                  OVER (ORDER BY margin DESC) AS BIGINT) AS tp,
             CAST(SUM(SUM(CASE WHEN truth THEN 0 ELSE 1 END))
                  OVER (ORDER BY margin DESC) AS BIGINT) AS fp
      FROM m GROUP BY margin
    ),
    j AS (
      SELECT margin, tp, fp,
             CAST(1000 * tp // (SELECT p FROM tot)
                  + 1000 * ((SELECT neg FROM tot) - fp)
                    // (SELECT neg FROM tot) - 1000 AS BIGINT) AS j_milli
      FROM sweep
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_docs,
           (SELECT p FROM tot) AS n_pos, (SELECT neg FROM tot) AS n_neg,
           margin AS best_margin_cutoff, tp, fp,
           CAST(1000 * tp // (SELECT p FROM tot) AS BIGINT) AS tpr_permille,
           CAST(1000 * fp // (SELECT neg FROM tot) AS BIGINT) AS fpr_permille,
           j_milli
    FROM j
    ORDER BY j_milli DESC, margin LIMIT 1
    """


@query(
    "quality_youden_threshold",
    oracle=_build_youden_oracle(),
    tags=("llm", "quality", "eval"),
)
def quality_youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Youden-optimal NB margin cutoff on held-out docs: the
    distinct margin value maximizing J = TPR + TNR − 1 (milli, exact
    floors; tie → smaller cutoff) with its confusion counts and ROC
    point. One margin-keyed aggregate + one cumulative window over the
    distinct-margin dimension; TakeOrdered(1)."""
    from pyspark.sql.window import Window


    scored = nb_scored(spark, sf_dir).select(
        "truth", (F.col("score_pass") - F.col("score_fail")).alias("margin")
    )
    tot = scored.agg(
        F.sum(F.when(F.col("truth"), 1).otherwise(0)).cast("long").alias("p"),
        F.sum(F.when(F.col("truth"), 0).otherwise(1))
        .cast("long")
        .alias("neg"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    per = scored.groupBy("margin").agg(
        F.sum(F.when(F.col("truth"), 1).otherwise(0)).cast("long").alias("tp0"),
        F.sum(F.when(F.col("truth"), 0).otherwise(1)).cast("long").alias("fp0"),
    )
    w = Window.orderBy(F.desc("margin")).rangeBetween(
        Window.unboundedPreceding, 0
    )
    sweep = per.select(
        "margin",
        F.sum("tp0").over(w).cast("long").alias("tp"),
        F.sum("fp0").over(w).cast("long").alias("fp"),
    )
    j = sweep.crossJoin(F.broadcast(tot)).select(
        "n_docs",
        F.col("p").alias("n_pos"),
        F.col("neg").alias("n_neg"),
        F.col("margin").alias("best_margin_cutoff"),
        "tp",
        "fp",
        idiv_col(F.col("tp"), F.col("p"), scale=1000).alias("tpr_permille"),
        idiv_col(F.col("fp"), F.col("neg"), scale=1000).alias(
            "fpr_permille"
        ),
        (
            idiv_col(F.col("tp"), F.col("p"), scale=1000)
            + idiv_col(
                F.col("neg") - F.col("fp"), F.col("neg"), scale=1000
            )
            - F.lit(1000)
        )
        .cast("long")
        .alias("j_milli"),
    )
    return j.orderBy(F.desc("j_milli"), F.asc("best_margin_cutoff")).limit(1)
