"""Naive-Bayes quality gates and their agreement metrics: distillation
fidelity, AUC, confusion summaries, McNemar, kappa, MCC, precision@k,
PR curves and KS separation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.exact import idiv_col
from .quality_calibration import nb_chain_sql, nb_scored
from .registry import query


def _nb_cells_sql() -> str:
    """nb_chain_sql plus ``cells(a, b, c, d)``: the 2×2 table of the
    Gopher rule (truth) against the NB gate (pass = score_pass >=
    score_fail) over the held-out docs — a both pass, b rule only, c NB
    only, d both fail."""
    return f"""{nb_chain_sql()},
    cells AS (
      SELECT CAST(SUM(CASE WHEN truth AND score_pass >= score_fail
                      THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN truth AND score_pass < score_fail
                      THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN NOT truth AND score_pass >= score_fail
                      THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN NOT truth AND score_pass < score_fail
                      THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM scored
    )"""


def _nb_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark half of _nb_cells_sql: one row (a, b, c, d)."""
    scored = nb_scored(spark, sf_dir)
    nb_pass = F.col("score_pass") >= F.col("score_fail")
    return scored.agg(
        F.sum(F.when(F.col("truth") & nb_pass, 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("truth") & ~nb_pass, 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(~F.col("truth") & nb_pass, 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(~F.col("truth") & ~nb_pass, 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )


#: The NB gate's confusion counts (pass = score_pass >= score_fail,
#: positive = the rule's truth) over ``scored``; _nb_confusion_aggs is
#: the Spark side.
_NB_CONFUSION_SQL = """CAST(SUM(CASE WHEN score_pass >= score_fail AND truth
                    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN score_pass >= score_fail AND NOT truth
                    THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN score_pass < score_fail AND truth
                    THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN score_pass < score_fail AND NOT truth
                    THEN 1 ELSE 0 END) AS BIGINT) AS tn"""


def _nb_confusion_aggs() -> list:
    pred = F.col("score_pass") >= F.col("score_fail")
    return [
        F.sum(F.when(pred & F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(pred & ~F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(~pred & F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(~pred & ~F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    ]


@query(
    "quality_nb_distill_fidelity",
    oracle=f"""
    WITH {nb_chain_sql()}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
           {_NB_CONFUSION_SQL},
           CAST(FLOOR(1000.0 * SUM(CASE WHEN (score_pass >= score_fail)
                    = truth THEN 1 ELSE 0 END) / COUNT(*)) AS BIGINT)
             AS accuracy_permille
    FROM scored
    """,
    tags=("llm", "quality", "eval"),
)
def quality_nb_distill_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill the Gopher rule gate into a multinomial Naive Bayes
    classifier and measure fidelity on held-out docs: train on the
    even-doc_id half labeled by the rule (weak supervision), score the
    odd half, report the confusion matrix and accuracy permille — the
    model-based-filtering acceptance table (the WebText/fastText
    classifier pattern) in exactly-replayable integer form. Every
    statistic is a count; every log-prob (Laplace-smoothed, shared
    vocabulary V) is micro-rounded per word TYPE then summed as
    count-weighted BIGINTs, so scores, the ≥-tie rule, and the confusion
    cells are hash-stable across engines. Ties predict pass (stated).

    Plan, 100 TB-first: training is ONE (word, class-count) aggregation
    over the labeled half; the model is the vocab-bounded cw relation
    joined LEFT from the eval side's (doc, word, k) counts (OOV words
    fall out of the same formula via COALESCE 0); priors/totals ride a
    broadcast one-row relation; the result is a single row."""
    scored = nb_scored(spark, sf_dir)
    pred = F.col("score_pass") >= F.col("score_fail")
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        *_nb_confusion_aggs(),
        F.floor(
            F.lit(1000.0)
            * F.sum(F.when(pred == F.col("truth"), 1).otherwise(0))
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("accuracy_permille"),
    )


# Exact AUC. The ranking is over the NB log-odds margin
# (score_pass - score_fail, already exact integer micro-nats from the
# distillation chain). Midranks handle ties exactly when doubled:
# 2·midrank = 2·RANK() + |tie group| - 1 (RANK is the competition rank =
# the smallest rank in the tie group; the largest is RANK()+|group|-1,
# and the midrank is their mean). Then with R⁺ the positive midrank sum,
# U = R⁺ - n⁺(n⁺+1)/2 and AUC = U/(n⁺n⁻); doubling both sides keeps
# every intermediate an integer: u_stat_x2 = 2R⁺ - n⁺(n⁺+1),
# auc_micro = 10⁶·u_stat_x2 // (2·n⁺·n⁻).
@query(
    "quality_nb_auc_eval",
    oracle=f"""
    WITH {nb_chain_sql()},
    mr AS (
      SELECT truth,
             2 * RANK() OVER (ORDER BY score_pass - score_fail)
               + COUNT(*) OVER (PARTITION BY score_pass - score_fail) - 1
               AS mr2
      FROM scored
    ),
    t AS (
      SELECT CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN truth THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
             CAST(SUM(CASE WHEN truth THEN mr2 ELSE 0 END) AS BIGINT) AS r2p
      FROM mr
    )
    SELECT n_pos, n_neg,
           CAST(r2p - n_pos * (n_pos + 1) AS BIGINT) AS u_stat_x2,
           CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN -1
                ELSE (r2p - n_pos * (n_pos + 1)) * 1000000
                     // (2 * n_pos * n_neg) END AS BIGINT) AS auc_micro
    FROM t
    """,
    tags=("llm", "quality", "eval"),
)
def quality_nb_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-free ROC-AUC of the distilled NB quality gate on the
    held-out docs, computed exactly from doubled midranks over the
    integer log-odds margin (no floats anywhere — the final value is an
    exact integer floor division in micro units). -1 flags a degenerate
    single-class eval set rather than a silent NULL. The global rank
    window is the registry's rank-statistic convention (KS/MW posture);
    the 100 TB swap is a two-pass histogram rank (count-by-margin,
    prefix-sum the dimension-sized histogram, broadcast back)."""
    scored = nb_scored(spark, sf_dir).select(
        "truth", (F.col("score_pass") - F.col("score_fail")).alias("m")
    )
    mr = scored.select(
        "truth",
        (
            F.lit(2) * F.rank().over(Window.orderBy("m"))
            + F.count(F.lit(1)).over(Window.partitionBy("m"))
            - 1
        )
        .cast("long")
        .alias("mr2"),
    )
    t = mr.agg(
        F.sum(F.when(F.col("truth"), 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("truth"), 0).otherwise(1)).cast("long").alias("n_neg"),
        F.sum(F.when(F.col("truth"), F.col("mr2")).otherwise(0))
        .cast("long")
        .alias("r2p"),
    )
    u2 = F.col("r2p") - F.col("n_pos") * (F.col("n_pos") + 1)
    return t.select(
        "n_pos",
        "n_neg",
        u2.cast("long").alias("u_stat_x2"),
        F.when((F.col("n_pos") == 0) | (F.col("n_neg") == 0), F.lit(-1))
        .otherwise(
            idiv_col(
                u2 * 1_000_000, F.lit(2) * F.col("n_pos") * F.col("n_neg")
            )
        )
        .cast("long")
        .alias("auc_micro"),
    )


# Classifier summary metrics (Matthews, "Comparison of the predicted
# and observed secondary structure of T4 phage lysozyme", 1975; van
# Rijsbergen's F-measure, 1979): precision / recall / F1 / balanced
# accuracy / MCC over the NB gate's held-out confusion — the standard
# reporting row that completes the classifier-eval family (confusion →
# calibration → AUC → isotonic → THIS). Everything except MCC is an
# exact integer permille; MCC's sqrt is the single milli-rounded
# float. F1 = 2tp/(2tp+fp+fn) stays integer-exact (no precision/recall
# round-trip). Degenerate denominators report -1, never silent NULLs.
@query(
    "quality_nb_metrics_summary",
    oracle=f"""
    WITH {nb_chain_sql()},
    conf AS (
      SELECT
        {_NB_CONFUSION_SQL}
      FROM scored
    )
    SELECT tp, fp, fn, tn,
           CAST(CASE WHEN tp + fp = 0 THEN -1
                ELSE 1000 * tp // (tp + fp) END AS BIGINT)
             AS precision_permille,
           CAST(CASE WHEN tp + fn = 0 THEN -1
                ELSE 1000 * tp // (tp + fn) END AS BIGINT)
             AS recall_permille,
           CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN -1
                ELSE 2000 * tp // (2 * tp + fp + fn) END AS BIGINT)
             AS f1_permille,
           CAST(CASE WHEN tp + fn = 0 OR tn + fp = 0 THEN -1
                ELSE (1000 * tp // (tp + fn) + 1000 * tn // (tn + fp)) // 2
                END AS BIGINT) AS balanced_acc_permille,
           CAST(CASE WHEN (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) = 0
                THEN 0
                ELSE ROUND(1000.0 * (tp * tn - fp * fn)
                     / SQRT(CAST((tp + fp) * (tp + fn) AS DOUBLE)
                            * ((tn + fp) * (tn + fn))))
                END AS BIGINT) AS mcc_milli
    FROM conf
    """,
    tags=("llm", "quality", "eval"),
)
def quality_nb_metrics_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1/balanced-accuracy (exact integer permille,
    F1 in its integer-exact 2tp form) and MCC (milli, the one float) of
    the NB quality gate on held-out docs. Shares the scored relation
    with the fidelity/calibration/AUC queries — one more 1-row rollup
    over the same chain, so the five eval rows can never disagree about
    the classifier."""
    conf = nb_scored(spark, sf_dir).agg(*_nb_confusion_aggs())
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    mcc_den = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    return conf.select(
        "tp", "fp", "fn", "tn",
        F.when(tp + fp == 0, F.lit(-1))
        .otherwise(idiv_col(F.lit(1000) * tp, tp + fp))
        .cast("long")
        .alias("precision_permille"),
        F.when(tp + fn == 0, F.lit(-1))
        .otherwise(idiv_col(F.lit(1000) * tp, tp + fn))
        .cast("long")
        .alias("recall_permille"),
        F.when(2 * tp + fp + fn == 0, F.lit(-1))
        .otherwise(idiv_col(F.lit(2000) * tp, 2 * tp + fp + fn))
        .cast("long")
        .alias("f1_permille"),
        F.when((tp + fn == 0) | (tn + fp == 0), F.lit(-1))
        .otherwise(
            idiv_col(
                idiv_col(F.lit(1000) * tp, tp + fn)
                + idiv_col(F.lit(1000) * tn, tn + fp),
                F.lit(2),
            )
        )
        .cast("long")
        .alias("balanced_acc_permille"),
        F.when(mcc_den == 0, F.lit(0))
        .otherwise(
            F.round(
                F.lit(1000.0)
                * (tp * tn - fp * fn)
                / F.sqrt(
                    ((tp + fp) * (tp + fn)).cast("double")
                    * ((tn + fp) * (tn + fn))
                )
            )
        )
        .cast("long")
        .alias("mcc_milli"),
    )


# McNemar's test between the Gopher rule gate and its NB distillation
# (McNemar, Psychometrika 1947 — the standard paired-classifier test):
# on the held-out split, the discordant counts b (rule passes, NB
# fails) and c (rule fails, NB passes) carry ALL the information about
# which gate is stricter; the statistic (b−c)²/(b+c) is exact integer
# milli. Completes the distillation eval: fidelity says how often they
# agree, McNemar says whether the disagreements are one-sided.
def _build_mcnemar_oracle() -> str:

    return f"""
    WITH {nb_chain_sql()},
    paired AS (
      SELECT truth AS rule_pass,
             (score_pass >= score_fail) AS nb_pass
      FROM scored
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rule_pass AND nb_pass THEN 1 ELSE 0 END)
                AS BIGINT) AS n_both_pass,
           CAST(SUM(CASE WHEN NOT rule_pass AND NOT nb_pass THEN 1 ELSE 0
                    END) AS BIGINT) AS n_both_fail,
           CAST(SUM(CASE WHEN rule_pass AND NOT nb_pass THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rule_only,
           CAST(SUM(CASE WHEN NOT rule_pass AND nb_pass THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nb_only,
           CAST(CASE WHEN SUM(CASE WHEN rule_pass <> nb_pass THEN 1 ELSE 0
                          END) = 0 THEN 0
                ELSE 1000
                  * (SUM(CASE WHEN rule_pass AND NOT nb_pass THEN 1 ELSE 0
                         END)
                     - SUM(CASE WHEN NOT rule_pass AND nb_pass THEN 1
                           ELSE 0 END))
                  * (SUM(CASE WHEN rule_pass AND NOT nb_pass THEN 1 ELSE 0
                         END)
                     - SUM(CASE WHEN NOT rule_pass AND nb_pass THEN 1
                           ELSE 0 END))
                  // SUM(CASE WHEN rule_pass <> nb_pass THEN 1 ELSE 0 END)
                END AS BIGINT) AS mcnemar_milli
    FROM paired
    """


@query(
    "quality_mcnemar_gates",
    oracle=_build_mcnemar_oracle(),
    tags=("llm", "quality", "eval"),
)
def quality_mcnemar_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired comparison of the Gopher rule gate vs the NB
    distilled gate on held-out docs: agreement cells, the two discordant
    counts, and the exact integer-milli statistic (b−c)²/(b+c). One
    pass over the shared NB score relation."""

    scored = nb_scored(spark, sf_dir)
    paired = scored.select(
        F.col("truth").alias("rule_pass"),
        (F.col("score_pass") >= F.col("score_fail")).alias("nb_pass"),
    )
    agg = paired.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("rule_pass") & F.col("nb_pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_both_pass"),
        F.sum(
            F.when(~F.col("rule_pass") & ~F.col("nb_pass"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_both_fail"),
        F.sum(
            F.when(F.col("rule_pass") & ~F.col("nb_pass"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_rule_only"),
        F.sum(
            F.when(~F.col("rule_pass") & F.col("nb_pass"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_nb_only"),
    )
    disc = F.col("n_rule_only") + F.col("n_nb_only")
    diff = F.col("n_rule_only") - F.col("n_nb_only")
    return agg.select(
        "n_docs",
        "n_both_pass",
        "n_both_fail",
        "n_rule_only",
        "n_nb_only",
        F.when(disc == 0, F.lit(0))
        .otherwise(idiv_col(diff * diff, disc, scale=1000))
        .cast("long")
        .alias("mcnemar_milli"),
    )


# Cohen's kappa between the Gopher rule gate and its NB distillation
# (Cohen, EPM 1960): the chance-corrected agreement score beside
# McNemar's asymmetry test (wave 16) — fidelity says raw agreement,
# kappa says how much of it survives after the agreement both gates
# would reach by label-rate luck alone. Fully exact: with the 2×2
# cells a/b/c/d and n = a+b+c+d, clearing denominators gives
#     kappa = (n·(a+d) − X) / (n² − X),  X = (a+b)(a+c) + (c+d)(b+d)
# — integer numerator and denominator, one milli floor division.
def _build_kappa_oracle() -> str:

    return f"""
    WITH {_nb_cells_sql()}
    SELECT a + b + c + d AS n_docs, a AS n_both_pass, d AS n_both_fail,
           b + c AS n_disagree,
           CAST(1000 * (a + d) // (a + b + c + d) AS BIGINT)
             AS raw_agreement_permille,
           CAST(CASE WHEN (a + b + c + d) * (a + b + c + d)
                          - ((a + b) * (a + c) + (c + d) * (b + d)) = 0
                THEN 0
                ELSE 1000 * ((a + b + c + d) * (a + d)
                             - ((a + b) * (a + c) + (c + d) * (b + d)))
                     // ((a + b + c + d) * (a + b + c + d)
                         - ((a + b) * (a + c) + (c + d) * (b + d)))
                END AS BIGINT) AS kappa_milli
    FROM cells
    """


@query(
    "quality_cohens_kappa_gates",
    oracle=_build_kappa_oracle(),
    tags=("llm", "quality", "eval"),
)
def quality_cohens_kappa_gates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohen's kappa (milli, exact integer via cleared denominators)
    between the Gopher rule gate and the NB distilled gate on held-out
    docs, with the raw agreement rate beside it. One pass over the
    shared NB score relation."""

    cells = _nb_cells(spark, sf_dir)
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    x = (F.col("a") + F.col("b")) * (F.col("a") + F.col("c")) + (
        F.col("c") + F.col("d")
    ) * (F.col("b") + F.col("d"))
    num = n * (F.col("a") + F.col("d")) - x
    den = n * n - x
    return cells.select(
        n.cast("long").alias("n_docs"),
        F.col("a").alias("n_both_pass"),
        F.col("d").alias("n_both_fail"),
        (F.col("b") + F.col("c")).cast("long").alias("n_disagree"),
        idiv_col(F.col("a") + F.col("d"), n, scale=1000).alias(
            "raw_agreement_permille"
        ),
        F.when(den == 0, F.lit(0))
        .otherwise(idiv_col(num, den, scale=1000))
        .cast("long")
        .alias("kappa_milli"),
    )


# Matthews correlation coefficient + balanced accuracy of the NB
# distilled gate vs the Gopher rule truth (Matthews, BBA 1975 — the
# standard single-number 2x2 summary robust to class imbalance;
# balanced accuracy per Brodersen et al., ICPR 2010). Completes the
# gate-agreement family: fidelity (raw agreement), kappa
# (chance-corrected), McNemar (direction of disagreement), Youden
# (threshold choice) — MCC is the correlation view of the SAME 2x2
# cells, single-sourced from the NB chain so the five rows can never
# disagree about the table they summarize. MCC's sqrt is the ONE float
# (products ride DOUBLE: at production counts the 4-way margin product
# passes 2^63, so long-space is wrong there by construction);
# FLOOR(x + 0.5) rounds half-up identically in both engines, including
# for negative MCC.
def _build_mcc_oracle() -> str:

    return f"""
    WITH {_nb_cells_sql()}
    SELECT a + b + c + d AS n_docs,
           a AS n_tp, b AS n_fn, c AS n_fp, d AS n_tn,
           CAST(CASE WHEN a + b = 0 OR a + c = 0 OR b + d = 0
                          OR c + d = 0
                THEN 0
                ELSE FLOOR(1000.0 * CAST(a * d - b * c AS DOUBLE)
                     / sqrt(CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
                            * CAST(b + d AS DOUBLE) * CAST(c + d AS DOUBLE))
                     + 0.5)
                END AS BIGINT) AS mcc_milli,
           CAST((CASE WHEN a + b > 0 THEN 1000 * a // (a + b)
                 ELSE 0 END
                 + CASE WHEN c + d > 0 THEN 1000 * d // (c + d)
                   ELSE 0 END) // 2 AS BIGINT) AS balanced_acc_milli
    FROM cells
    """


@query(
    "quality_mcc_gates",
    oracle=_build_mcc_oracle(),
    tags=("llm", "quality", "eval"),
)
def quality_mcc_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MCC (milli; one sqrt float, half-up-rounded) and balanced
    accuracy (milli; truncated TPR/TNR permille halved — stated) of the
    NB distilled gate against the Gopher rule truth, over the SAME
    single-sourced 2x2 cells as the kappa/McNemar waves (pinned equal
    in tests). One pass over the shared NB score relation."""

    cells = _nb_cells(spark, sf_dir)
    a, b, c, d = (F.col(x) for x in "abcd")
    n = a + b + c + d
    margins = (
        (a + b).cast("double")
        * (a + c).cast("double")
        * (b + d).cast("double")
        * (c + d).cast("double")
    )
    mcc = F.floor(
        F.lit(1000.0) * (a * d - b * c).cast("double") / F.sqrt(margins)
        + F.lit(0.5)
    ).cast("long")
    tpr = F.when(a + b > 0, idiv_col(a, a + b, scale=1000)).otherwise(
        F.lit(0)
    )
    tnr = F.when(c + d > 0, idiv_col(d, c + d, scale=1000)).otherwise(
        F.lit(0)
    )
    return cells.select(
        n.cast("long").alias("n_docs"),
        a.alias("n_tp"),
        b.alias("n_fn"),
        c.alias("n_fp"),
        d.alias("n_tn"),
        F.when(
            (a + b == 0) | (a + c == 0) | (b + d == 0) | (c + d == 0),
            F.lit(0),
        )
        .otherwise(mcc)
        .cast("long")
        .alias("mcc_milli"),
        idiv_col(tpr + tnr, F.lit(2)).cast("long").alias(
            "balanced_acc_milli"
        ),
    )


# Precision/recall@k curve of the NB distilled gate's RANKING (standard
# IR evaluation; Manning, Raghavan & Schütze, "Introduction to IR",
# ch. 8): rank held-out docs by NB margin (score_pass − score_fail,
# doc_id tie-break), then exact cumulative relevance at k ∈ {10, 25,
# 50, 100} against the Gopher truth. AUC (threshold-free), Youden
# (threshold pick), calibration (probability quality) and the 2x2
# family (fixed gate) are registered; this is the remaining view — gate
# quality AS A RANKER when a curation run takes "the best k docs", the
# operation curation actually performs. Exact integers end-to-end (the
# margin is already an integer micro score; counts and permilles via
# truncated division).
_PK_GRID = (10, 25, 50, 100)


def _build_precision_at_k_oracle() -> str:

    ks = ", ".join(str(k) for k in _PK_GRID)
    return f"""
    WITH {nb_chain_sql()},
    ranked AS (
      SELECT truth,
             CAST(ROW_NUMBER() OVER (ORDER BY score_pass - score_fail
                                     DESC, doc_id) AS BIGINT) AS rk
      FROM scored
    ),
    tot AS (
      SELECT CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rel,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ranked
    ),
    grid(k) AS (SELECT UNNEST([{ks}])),
    at_k AS (
      SELECT g.k,
             CAST(SUM(CASE WHEN r.truth THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rel_at_k
      FROM grid g JOIN ranked r ON r.rk <= g.k
      GROUP BY g.k
    )
    SELECT CAST(a.k AS BIGINT) AS k, a.n_rel_at_k,
           CAST(1000 * a.n_rel_at_k // a.k AS BIGINT)
             AS precision_permille,
           CAST(1000 * a.n_rel_at_k // t.n_rel AS BIGINT)
             AS recall_permille,
           CAST(1000 * t.n_rel // t.n AS BIGINT) AS base_rate_permille
    FROM at_k a, tot t
    ORDER BY k
    """


@query(
    "quality_precision_at_k",
    oracle=_build_precision_at_k_oracle(),
    tags=("llm", "quality", "eval"),
)
def quality_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact precision/recall@k of the NB margin ranking vs the Gopher
    truth, k ∈ {10, 25, 50, 100}, with the base rate for reference. One
    pass over the shared NB score relation + one rank window; the grid
    join is k-dimension bounded."""
    from pyspark.sql.window import Window


    scored = nb_scored(spark, sf_dir)
    ranked = scored.select(
        "truth",
        F.row_number()
        .over(
            Window.orderBy(
                F.desc(F.col("score_pass") - F.col("score_fail")),
                F.asc("doc_id"),
            )
        )
        .cast("long")
        .alias("rk"),
    )
    tot = ranked.agg(
        F.sum(F.when(F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("n_rel"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    grid = spark.createDataFrame([(k,) for k in _PK_GRID], "k long")
    at_k = (
        F.broadcast(grid)
        .join(ranked, ranked.rk <= grid.k)
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("truth"), 1).otherwise(0))
            .cast("long")
            .alias("n_rel_at_k")
        )
    )
    return (
        at_k.crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n_rel_at_k",
            idiv_col(F.col("n_rel_at_k"), F.col("k"), scale=1000).alias(
                "precision_permille"
            ),
            idiv_col(
                F.col("n_rel_at_k"), F.col("n_rel"), scale=1000
            ).alias("recall_permille"),
            idiv_col(F.col("n_rel"), F.col("n"), scale=1000).alias(
                "base_rate_permille"
            ),
        )
        .orderBy("k")
    )


# ROC AUC of the NB distilled gate, EXACT via the rank-sum identity
# (Hanley & McNeil, Radiology 1982; AUC == U/(n+·n−) with U the
# Mann-Whitney statistic, Mann & Whitney 1947): completes the
# gate-agreement family (fidelity, kappa, McNemar, Youden, MCC,
# precision@k) with the threshold-free view of the SAME single-sourced
# NB score relation. Ties get the standard half credit through average
# ranks, kept integer by working with DOUBLED ranks: for a margin value
# with RANK() m and COUNT() c over the margin ordering,
# 2·avgrank = 2m + c − 1 exactly.
def _build_auc_oracle() -> str:

    return f"""
    WITH {nb_chain_sql()},
    ranked AS (
      SELECT truth,
             2 * RANK() OVER (ORDER BY score_pass - score_fail)
               + COUNT(*) OVER (PARTITION BY score_pass - score_fail)
               - 1 AS r2
      FROM scored
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT)
               AS np,
             CAST(SUM(CASE WHEN truth THEN 0 ELSE 1 END) AS BIGINT)
               AS nn,
             CAST(SUM(CASE WHEN truth THEN r2 ELSE 0 END) AS BIGINT)
               AS r2p
      FROM ranked
    )
    SELECT np AS n_pos, nn AS n_neg,
           CAST(1000000 * (r2p - np * (np + 1)) // (2 * np * nn)
                AS BIGINT) AS auc_micro,
           CAST((1000000 * (r2p - np * (np + 1)) // (2 * np * nn)) * 2
                - 1000000 AS BIGINT) AS gini_micro
    FROM agg
    """


@query(
    "quality_auc_nb_gate",
    oracle=_build_auc_oracle(),
    tags=("llm", "quality", "eval"),
)
def quality_auc_nb_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC (micro) of the NB gate margin against the Gopher rule
    truth via doubled average ranks — zero floats anywhere (the one
    integer-exact member of the gate-eval family; MCC needs a sqrt,
    AUC does not). One global margin ordering (the registry's ranked-
    comparison posture) + one per-margin tie count."""
    from pyspark.sql.window import Window


    scored = nb_scored(spark, sf_dir).select(
        "truth", (F.col("score_pass") - F.col("score_fail")).alias("m")
    )
    ranked = scored.select(
        "truth",
        (
            F.lit(2) * F.rank().over(Window.orderBy("m"))
            + F.count(F.lit(1)).over(Window.partitionBy("m"))
            - 1
        )
        .cast("long")
        .alias("r2"),
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("truth"), 1).otherwise(0)).cast("long").alias("np"),
        F.sum(F.when(F.col("truth"), 0).otherwise(1)).cast("long").alias("nn"),
        F.sum(F.when(F.col("truth"), F.col("r2")).otherwise(0))
        .cast("long")
        .alias("r2p"),
    )
    auc = idiv_col(
        F.col("r2p") - F.col("np") * (F.col("np") + 1),
        F.lit(2) * F.col("np") * F.col("nn"),
        scale=1_000_000,
    )
    return agg.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        auc.alias("auc_micro"),
        (auc * 2 - F.lit(1_000_000)).cast("long").alias("gini_micro"),
    )


# Precision-recall curve of the NB gate at coverage deciles (Davis &
# Goadrich, ICML 2006 — PR curves are the right view under class
# imbalance; Manning/Raghavan/Schütze IR ch.8 for P@k/R@k): rank the
# held-out docs by margin (desc, doc_id tie-break — total order), cut
# at k = N·d/10 for deciles d = 1..10, and report exact-integer
# precision/recall/F1 (milli) at each cut. Completes the gate-eval
# family's threshold axis: Youden picks ONE cut, AUC integrates over
# all — this row shows the 10-point curve between them, from the SAME
# single-sourced score relation.
def _build_pr_curve_oracle() -> str:

    return f"""
    WITH {nb_chain_sql()},
    ranked AS (
      SELECT truth,
             ROW_NUMBER() OVER (ORDER BY score_pass - score_fail DESC,
                                doc_id) AS rn
      FROM scored
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT)
               AS p
      FROM ranked
    ),
    deciles AS (SELECT UNNEST(range(1, 11)) AS d),
    cuts AS (
      SELECT d.d, CAST(t.n * d.d // 10 AS BIGINT) AS k, t.p
      FROM deciles d CROSS JOIN tot t
    ),
    curve AS (
      SELECT c.d, c.k, c.p,
             CAST(SUM(CASE WHEN r.truth THEN 1 ELSE 0 END) AS BIGINT)
               AS tp
      FROM cuts c JOIN ranked r ON r.rn <= c.k
      GROUP BY c.d, c.k, c.p
    )
    SELECT d AS decile, k AS n_predicted, tp AS n_tp,
           CAST(1000 * tp // k AS BIGINT) AS precision_milli,
           CAST(1000 * tp // p AS BIGINT) AS recall_milli,
           CAST(CASE WHEN 1000 * tp // k + 1000 * tp // p = 0 THEN 0
                ELSE 2 * (1000 * tp // k) * (1000 * tp // p)
                     // (1000 * tp // k + 1000 * tp // p) END
                AS BIGINT) AS f1_milli
    FROM curve
    ORDER BY decile
    """


@query(
    "quality_pr_curve_nb_gate",
    oracle=_build_pr_curve_oracle(),
    tags=("llm", "quality", "eval"),
)
def quality_pr_curve_nb_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P/R/F1 (milli, exact integers) at the 10 coverage deciles of the
    NB margin ranking. One global ranking window + a broadcast
    10-row decile dimension; the curve join is rank-bounded."""
    from pyspark.sql.window import Window


    scored = nb_scored(spark, sf_dir).select(
        "doc_id",
        "truth",
        (F.col("score_pass") - F.col("score_fail")).alias("m"),
    )
    ranked = scored.select(
        "truth",
        F.row_number()
        .over(Window.orderBy(F.desc("m"), F.asc("doc_id")))
        .cast("long")
        .alias("rn"),
    )
    tot = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("truth"), 1).otherwise(0)).cast("long").alias(
            "p"
        ),
    )
    deciles = spark.range(1, 11).select(F.col("id").alias("d"))
    cuts = deciles.crossJoin(F.broadcast(tot)).select(
        "d", idiv_col(F.col("n") * F.col("d"), F.lit(10)).alias("k"), "p"
    )
    curve = (
        ranked.crossJoin(F.broadcast(cuts))
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("d", "k", "p")
        .agg(
            F.sum(F.when(F.col("truth"), 1).otherwise(0))
            .cast("long")
            .alias("tp")
        )
    )
    prec = idiv_col(F.col("tp"), F.col("k"), scale=1000)
    rec = idiv_col(F.col("tp"), F.col("p"), scale=1000)
    return curve.select(
        F.col("d").alias("decile"),
        F.col("k").alias("n_predicted"),
        F.col("tp").alias("n_tp"),
        prec.alias("precision_milli"),
        rec.alias("recall_milli"),
        F.when(prec + rec == 0, F.lit(0))
        .otherwise(idiv_col(prec * rec, prec + rec, scale=2))
        .cast("long")
        .alias("f1_milli"),
    ).orderBy("decile")


# Two-sample Kolmogorov-Smirnov separation of the NB gate's score
# distributions (Kolmogorov 1933; Smirnov 1939): D = sup |F_pass −
# F_fail| over the margin axis, EXACT by cross-multiplication — at
# each distinct margin the CDF gap |cp·nn − cn·np| is an integer, so
# the supremum needs no floats at all. The distributional view of the
# same single-sourced relation the AUC wave integrates: AUC measures
# average separation, KS the worst-case gap (and the margin where it
# occurs — the natural threshold, cross-checked against Youden).
def _build_ks_gate_oracle() -> str:

    return f"""
    WITH {nb_chain_sql()},
    vals AS (
      SELECT score_pass - score_fail AS m,
             CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT)
               AS cp0,
             CAST(SUM(CASE WHEN truth THEN 0 ELSE 1 END) AS BIGINT)
               AS cn0
      FROM scored GROUP BY 1
    ),
    cum AS (
      SELECT m,
             CAST(SUM(cp0) OVER (ORDER BY m) AS BIGINT) AS cp,
             CAST(SUM(cn0) OVER (ORDER BY m) AS BIGINT) AS cn
      FROM vals
    ),
    tot AS (
      SELECT MAX(cp) AS np, MAX(cn) AS nn FROM cum
    ),
    gaps AS (
      SELECT c.m, ABS(c.cp * t.nn - c.cn * t.np) AS gap2, t.np, t.nn
      FROM cum c CROSS JOIN tot t
    )
    SELECT np AS n_pos, nn AS n_neg,
           CAST(MAX(gap2) AS BIGINT) AS gap_num,
           CAST(1000 * MAX(gap2) // (np * nn) AS BIGINT) AS ks_d_milli,
           CAST(MIN(CASE WHEN gap2 = (SELECT MAX(gap2) FROM gaps)
                    THEN m END) AS BIGINT) AS argmax_margin
    FROM gaps GROUP BY np, nn
    """


@query(
    "quality_ks_gate_separation",
    oracle=_build_ks_gate_oracle(),
    tags=("llm", "quality", "eval"),
)
def quality_ks_gate_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KS D (milli, exact cross-multiplied integers) between the NB
    margin distributions of truth-pass and truth-fail docs, with the
    smallest argmax margin. One margin-keyed aggregate + one cumulative
    window over distinct margins."""
    from pyspark.sql.window import Window


    scored = nb_scored(spark, sf_dir).select(
        (F.col("score_pass") - F.col("score_fail")).alias("m"), "truth"
    )
    vals = scored.groupBy("m").agg(
        F.sum(F.when(F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("cp0"),
        F.sum(F.when(F.col("truth"), 0).otherwise(1))
        .cast("long")
        .alias("cn0"),
    )
    # r12: one pass over the margin dimension (guide §1.2 / the wave-10
    # order-sensitivity fusion). Previously the gap relation was
    # self-joined against its own max (best) and cross-joined with a
    # separate totals aggregate, so the NB scoring chain upstream was
    # embedded (and its post-exchange compute re-run) up to 6×. The
    # totals now ride the SAME single-partition margin sort as the
    # cumulative sums (an unbounded frame adds no exchange), and the
    # argmax-with-min-margin-tie-break is min(struct(-gap2, m)) — exactly
    # the old max-gap2-then-min-m because struct order is lexicographic.
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vals.select(
        "m",
        F.sum("cp0").over(w).cast("long").alias("cp"),
        F.sum("cn0").over(w).cast("long").alias("cn"),
        F.sum("cp0").over(wall).cast("long").alias("np"),
        F.sum("cn0").over(wall).cast("long").alias("nn"),
    )
    gaps = cum.select(
        "m",
        "np",
        "nn",
        F.abs(F.col("cp") * F.col("nn") - F.col("cn") * F.col("np")).alias(
            "gap2"
        ),
    )
    res = gaps.agg(
        F.max("np").cast("long").alias("np"),
        F.max("nn").cast("long").alias("nn"),
        F.max("gap2").cast("long").alias("gap_num"),
        F.min(
            F.struct(
                (-F.col("gap2")).alias("ng"), F.col("m").alias("m")
            )
        ).alias("b"),
    )
    return res.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        "gap_num",
        idiv_col(
            F.col("gap_num"), F.col("np") * F.col("nn"), scale=1000
        ).alias("ks_d_milli"),
        F.col("b.m").cast("long").alias("argmax_margin"),
    )
