"""Round-9 operator waves, part 2 (waves 21+).

Wave 21 — exact ROC-AUC of the NB quality classifier via the rank-sum
identity (Hanley & McNeil 1982; AUC = U/(n⁺n⁻) with the Mann-Whitney U
from midranks): the threshold-free companion to the calibration curve
(llm_ops12 wave 17) and the fidelity table (llm_ops11 wave 13). All
integer: doubled midranks keep tie averages exact, one final integer
floor division emits micro units.

Wave 22 — Mann-Kendall trend test + Sen's slope over daily event counts
(Mann 1945; Kendall 1975; Sen 1968): the standard nonparametric
monotone-trend screen a pipeline runs on its ingest volumes. S and the
tie-corrected 18·Var(S) are exact integers; z is the single
milli-rounded float; Sen's slope is the lower-median pairwise slope
(median convention documented — no fraction averaging, so the statistic
stays exactly representable).

House rules (llm_ops.py): integer fixed-point for every ranked
comparison, deterministic tie-breaks, every aggregate aliased
identically in Spark and the oracle.

Reference basis: the reference engine (sea-streamer, Rust) has no ops
layer — this family exists for the 100 TB training-data pipeline
mandate, not for parity with a reference file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.curation import duck_split_bucket
from ..sources.tables import load_tables
from .llm_ops import (
    DUCK_CC_LABELS,
    DUCK_SHINGLE_SETS,
    NEAR_DUP_PAIRS,
    TOKS,
    UNDIRECTED_EDGES,
    shingle_overlap_sql,
)
from .llm_ops11 import (
    _NB_CONFUSION_SQL,
    _nb_chain_sql,
    _nb_confusion_aggs,
    _nb_scored,
)
from .llm_ops12 import _idiv_col
from .registry import query

# ---------------------------------------------------------------- wave 21
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
    WITH {_nb_chain_sql()},
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
    scored = _nb_scored(spark, sf_dir).select(
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
            _idiv_col(
                u2 * 1_000_000, F.lit(2) * F.col("n_pos") * F.col("n_neg")
            )
        )
        .cast("long")
        .alias("auc_micro"),
    )


# ---------------------------------------------------------------- wave 22
# Mann-Kendall + Sen. Day-pair relations are dimension-bounded (the
# fixture spans 30 days → 435 pairs per event type; a year is 66k pairs
# — never event-grain). S and 18·Var(S) stay exact integers (the tie
# correction subtracts Σ t(t-1)(2t+5) over tied daily-count values);
# z = (S∓1)/√(Var) is the single milli-rounded float. Sen's slope is
# the LOWER median of the 435 pairwise slopes (c_j-c_i)/(d_j-d_i) —
# picking an order statistic instead of averaging the middle two keeps
# the reported value an actually-attained slope; each pair's slope is
# milli-rounded once (one float per pair, same IEEE divide both
# engines), then the order statistic is exact with a (slope, gap, day)
# tie-break.


@query(
    "events_mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    n AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type,
             CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1
                  ELSE 0 END AS sgn,
             CAST(ROUND(1000.0 * (b.c - a.c)
                        / (b.day - a.day)) AS BIGINT) AS slope_milli,
             CAST(b.day - a.day AS BIGINT) AS gap,
             a.day AS day_a
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
    ),
    s AS (
      SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s_stat,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY 1
    ),
    ties AS (
      SELECT event_type,
             CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
      FROM (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
        FROM daily GROUP BY event_type, c
      ) GROUP BY 1
    ),
    sen AS (
      SELECT event_type, slope_milli AS sen_slope_milli
      FROM (
        SELECT event_type, slope_milli,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY slope_milli, gap, day_a) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS np
        FROM pairs
      ) WHERE rn = (np + 1) // 2
    )
    SELECT n.event_type, n.n_days, s.s_stat,
           CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                - ties.tie18 AS BIGINT) AS var18,
           CAST(CASE WHEN s.s_stat = 0 OR
                     n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                       - ties.tie18 = 0 THEN 0
                ELSE ROUND((s.s_stat - CASE WHEN s.s_stat > 0 THEN 1
                                            ELSE -1 END)
                     / SQRT((n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                             - ties.tie18) / 18.0) * 1000)
                END AS BIGINT) AS z_milli,
           sen.sen_slope_milli
    FROM n JOIN s USING (event_type) JOIN ties USING (event_type)
    JOIN sen USING (event_type)
    ORDER BY event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone-trend screen per event type over daily ingest counts:
    exact-integer Mann-Kendall S and tie-corrected 18·Var(S), the
    continuity-corrected z (milli, the one float), and Sen's slope as
    the lower-median pairwise slope in events/day (milli). Plan: one
    daily rollup (event-grain touched once, cached day-dimension-sized),
    then every further relation — pairs, ties, medians — lives on the
    day dimension."""
    out, daily = _mann_kendall_frame(spark, sf_dir)
    out = out.localCheckpoint(eager=True)
    daily.unpersist()
    return out


def _mann_kendall_frame(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(result, cached daily rollup) pre-checkpoint — split out so the
    plan pins can inspect the real DAG (the registered query checkpoints
    to release the cache, which hides the plan)."""
    ev = load_tables(spark, sf_dir, "events").events
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .cache()
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.when(F.col("b.c") > F.col("a.c"), 1)
        .when(F.col("b.c") < F.col("a.c"), -1)
        .otherwise(0)
        .alias("sgn"),
        F.round(
            F.lit(1000.0)
            * (F.col("b.c") - F.col("a.c"))
            / F.datediff(F.col("b.day"), F.col("a.day"))
        )
        .cast("long")
        .alias("slope_milli"),
        F.datediff(F.col("b.day"), F.col("a.day")).cast("long").alias("gap"),
        F.col("a.day").alias("day_a"),
    )
    n = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    s = pairs.groupBy("event_type").agg(
        F.sum("sgn").cast("long").alias("s_stat")
    )
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie18")
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope_milli", "gap", "day_a")
    wc = Window.partitionBy("event_type")
    sen = (
        pairs.select(
            "event_type",
            "slope_milli",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("np"),
        )
        .filter(F.col("rn") == F.floor((F.col("np") + 1) / 2))
        .select("event_type", F.col("slope_milli").alias("sen_slope_milli"))
    )
    var18 = (
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.col("tie18")
    ).cast("long")
    out = (
        n.join(s, "event_type")
        .join(ties, "event_type")
        .join(sen, "event_type")
        .select(
            "event_type",
            "n_days",
            "s_stat",
            var18.alias("var18"),
            F.when((F.col("s_stat") == 0) | (var18 == 0), F.lit(0))
            .otherwise(
                F.round(
                    (
                        F.col("s_stat")
                        - F.when(F.col("s_stat") > 0, 1).otherwise(-1)
                    )
                    / F.sqrt(var18 / F.lit(18.0))
                    * 1000
                )
            )
            .cast("long")
            .alias("z_milli"),
            "sen_slope_milli",
        )
        .orderBy("event_type")
    )
    return out, daily


# ---------------------------------------------------------------- wave 23
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


# ---------------------------------------------------------------- wave 24
# CUPED variance reduction (Deng, Xu, Kohavi & Walker, "Improving the
# Sensitivity of Online Controlled Experiments by Utilizing Pre-
# Experiment Data", WSDM 2013): the industry-standard A/B variance
# reducer. Y = per-user post-period value sum, X = the pre-period
# covariate, θ = cov(X,Y)/var(X) pooled across arms, Ŷ = Y - θ(X - X̄);
# the achievable variance reduction is exactly ρ²(X,Y). Per-row values
# are milli-fixed-point BIGINTs (the rollup-restatement recipe: explicit
# ROUND before CAST — bare casts split the engines), so every moment sum
# is an exact integer; θ/ρ²/means are one double expression each over
# those sums, rounded once. Arms reuse the registry's portable bucket
# hash (events_ab_conversion/_srm_check — the three A/B queries can
# never disagree about assignment).

#: pre-period length in days from the corpus' first event day.
_CUPED_PRE_DAYS = 15


@query(
    "events_ab_cuped",
    oracle=f"""
    WITH base AS (
      SELECT user_id,
             CAST(ROUND(value * 1000, 0) AS BIGINT) AS v,
             CAST(ts AS DATE)
               - (SELECT MIN(CAST(ts AS DATE)) FROM events)
               < {_CUPED_PRE_DAYS} AS pre
      FROM events
    ),
    users AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN pre THEN v ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN pre THEN 0 ELSE v END) AS BIGINT) AS y,
             {duck_split_bucket('user_id', 2)} AS arm
      FROM base GROUP BY user_id
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
             CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
             CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
      FROM users
    )
    SELECT n AS n_users, n_a, n_b,
           CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
                ELSE ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                           * 1000000) END AS BIGINT) AS theta_micro,
           CAST(ROUND((CAST(sy_a AS DOUBLE) / n_a
                       - CAST(sy_b AS DOUBLE) / n_b) * 1000) AS BIGINT)
             AS diff_micro,
           CAST(CASE WHEN n * sxx - sx * sx = 0
                THEN ROUND((CAST(sy_a AS DOUBLE) / n_a
                            - CAST(sy_b AS DOUBLE) / n_b) * 1000)
                ELSE ROUND((CAST(sy_a AS DOUBLE) / n_a
                            - CAST(sy_b AS DOUBLE) / n_b
                            - (CAST(n AS DOUBLE) * sxy
                               - CAST(sx AS DOUBLE) * sy)
                              / (CAST(n AS DOUBLE) * sxx
                                 - CAST(sx AS DOUBLE) * sx)
                              * (CAST(sx_a AS DOUBLE) / n_a
                                 - CAST(sx_b AS DOUBLE) / n_b)) * 1000)
                END AS BIGINT) AS adj_diff_micro,
           CAST(CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                THEN 0
                ELSE ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                           * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                           / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                              * (CAST(n AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * sy))
                           * 1000) END AS BIGINT) AS var_reduction_permille
    FROM t
    """,
    tags=("streaming", "events", "stats"),
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED readout for the registry's hash-split A/B experiment: the
    pooled θ (micro), the raw and CUPED-adjusted arm mean differences of
    post-period user value (micro, value units), and the achievable
    variance reduction ρ²(X,Y) (permille). Every moment is an exact
    integer sum of milli-fixed-point values; each reported number is one
    double expression over those sums rounded once. Plan: one user-keyed
    conditional aggregate (events touched once), then a 1-row moment
    rollup — nothing after the first groupBy exceeds the user dimension.
    The 15-day pre-period anchors to the corpus' first event day (one
    broadcast scalar), so the split is reproducible at any sf."""
    from ..operators.curation import split_bucket

    ev = load_tables(spark, sf_dir, "events").events
    first_day = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    base = ev.crossJoin(F.broadcast(first_day)).select(
        "user_id",
        F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("v"),
        (F.datediff(F.to_date("ts"), F.col("d0")) < _CUPED_PRE_DAYS).alias(
            "pre"
        ),
    )
    users = (
        base.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("pre"), F.col("v")).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("pre"), 0).otherwise(F.col("v")))
            .cast("long")
            .alias("y"),
        )
        .withColumn("arm", split_bucket("user_id", 2))
    )
    t = users.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy_b"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov_n = nd * F.col("sxy") - sxd * F.col("sy")
    varx_n = nd * F.col("sxx") - sxd * F.col("sx")
    vary_n = nd * F.col("syy") - syd * F.col("sy")
    theta = cov_n / varx_n
    dy = (
        F.col("sy_a").cast("double") / F.col("n_a")
        - F.col("sy_b").cast("double") / F.col("n_b")
    )
    dx = (
        F.col("sx_a").cast("double") / F.col("n_a")
        - F.col("sx_b").cast("double") / F.col("n_b")
    )
    degenerate_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") == 0
    degenerate_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") == 0
    return t.select(
        F.col("n").alias("n_users"),
        "n_a",
        "n_b",
        F.when(degenerate_x, F.lit(0))
        .otherwise(F.round(theta * 1_000_000))
        .cast("long")
        .alias("theta_micro"),
        F.round(dy * 1000).cast("long").alias("diff_micro"),
        F.when(degenerate_x, F.round(dy * 1000))
        .otherwise(F.round((dy - theta * dx) * 1000))
        .cast("long")
        .alias("adj_diff_micro"),
        F.when(degenerate_x | degenerate_y, F.lit(0))
        .otherwise(F.round(cov_n * cov_n / (varx_n * vary_n) * 1000))
        .cast("long")
        .alias("var_reduction_permille"),
    )


# ---------------------------------------------------------------- wave 25
# Prefix-filtering for exact set-similarity join (Chaudhuri, Ganti &
# Kaushik, ICDE 2006; Bayardo, Ma & Srikant, WWW 2007 "All-Pairs"; Xiao
# et al., WWW 2008 "PPJoin"): order every doc's shingle set by a global
# canonical order (ascending document frequency, shingle tie-break) and
# index only the first |x| - ceil(t·|x|) + 1 shingles — any pair with
# Jaccard >= t MUST collide inside those prefixes (the prefix-filtering
# principle), so candidate volume collapses to the rare-shingle mass
# while recall stays exactly 1. This wave makes the theorem measurable:
# the all-share candidate count, the prefix candidate count, the true
# J >= 1/2 pairs, how many the prefix join found (all, or the theorem is
# broken — n_missed is emitted and pinned 0), and the realized candidate
# reduction. t = 1/2 keeps every similarity comparison in integers:
# J >= 1/2  <=>  2·inter >= |a| + |b| - inter.


@query(
    "dedup_prefix_filter_eval",
    oracle=f"""
    WITH {DUCK_SHINGLE_SETS},
    dfreq AS MATERIALIZED (
      SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM ds GROUP BY sh
    ),
    ranked AS MATERIALIZED (
      SELECT ds.doc_id, ds.sh, s.n,
             ROW_NUMBER() OVER (PARTITION BY ds.doc_id
                                ORDER BY d.df, ds.sh) AS rk
      FROM ds JOIN dfreq d USING (sh) JOIN sizes s USING (doc_id)
    ),
    pre AS MATERIALIZED (
      SELECT doc_id, sh FROM ranked WHERE rk <= n - (n + 1) // 2 + 1
    ),
    inter AS MATERIALIZED (
      {shingle_overlap_sql("CAST(COUNT(*) AS BIGINT) AS i")}
    ),
    exact AS MATERIALIZED (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE 2 * i >= sa.n + sb.n - i
    ),
    cand_pre AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pre a JOIN pre b ON a.sh = b.sh AND a.doc_id < b.doc_id
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM sizes) AS n_docs,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM inter) AS n_candidates_allshare,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_pre) AS n_candidates_prefix,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_true_pairs,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM exact e
       JOIN cand_pre c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b)
        AS n_verified,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM exact e
       LEFT JOIN cand_pre c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
       WHERE c.doc_a IS NULL) AS n_missed,
      (SELECT CAST(CASE WHEN COUNT(*) = 0 THEN 0
                   ELSE 1000 * (COUNT(*) - (SELECT COUNT(*) FROM cand_pre))
                        // COUNT(*) END AS BIGINT)
       FROM inter) AS reduction_permille
    """,
    tags=("llm", "dedup", "eval"),
)
def dedup_prefix_filter_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering calibration for the exact Jaccard(>=1/2) join:
    candidates under the naive share-any-shingle inverted index vs under
    the canonical-order prefix index, true-pair count, verified count
    through the prefix candidates, the theorem's miss count (always 0 —
    emitted, not assumed), and the realized candidate reduction
    (permille).

    Plan (r13 — guide §1.2/§2.4; 4.78 → 2.2 s measured): ONE shingle
    explode; df comes from a map-side-partial groupBy broadcast back
    (27k distinct shingles — never the r12 count window, which shuffled
    the full positional relation with no partial aggregation); the
    canonical (df, sh) order and the prefix cut are ONE per-doc
    sort_array(collect_list) aggregate (sh is unique per doc so the
    struct order is total — rank ties cannot exist), which also yields
    the per-doc sizes for free; and the pair work is ONE annotated
    equi-join: each (doc, sh) row carries its in-prefix flag, so
    ``is_pre = max(pa AND pb)`` per pair IS membership in the prefix
    join's candidate set (a pair shares a both-prefix shingle iff some
    joined row has both flags). The r12 shape ran a second pre⋈pre join
    plus a pair-keyed left join to annotate — measured 2.1 s of the
    query's 4.8 s wall at sf0.1 with zero data skew (max df 25)."""
    from ..operators import dedup as D

    docs = load_tables(spark, sf_dir, "documents").documents
    ds = D.shingle_sets(docs).cache()
    perdoc = None
    try:
        counts = ds.groupBy("sh").agg(
            F.count(F.lit(1)).cast("long").alias("df")
        )
        perdoc = (
            ds.join(F.broadcast(counts), "sh")
            .groupBy("doc_id")
            .agg(
                F.sort_array(F.collect_list(F.struct("df", "sh"))).alias(
                    "arr"
                ),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .cache()
        )
        plen = F.col("n") - F.floor((F.col("n") + 1) / 2) + 1
        flagged = perdoc.select(
            F.col("doc_id"),
            plen.alias("plen"),
            F.posexplode(F.transform("arr", lambda s: s["sh"])).alias(
                "i", "sh"
            ),
        ).select(
            "doc_id", "sh", (F.col("i") < F.col("plen")).alias("inp")
        )
        a = flagged.select(
            F.col("doc_id").alias("doc_a"), "sh", F.col("inp").alias("pa")
        )
        b = flagged.select(
            F.col("doc_id").alias("doc_b"), "sh", F.col("inp").alias("pb")
        )
        ann = (
            a.join(b, "sh")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(
                F.count(F.lit(1)).cast("long").alias("i"),
                F.max(F.col("pa") & F.col("pb")).alias("is_pre"),
            )
        )
        sizes = perdoc.select("doc_id", "n")
        ann2 = (
            ann.join(
                F.broadcast(
                    sizes.select(
                        F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
                    )
                ),
                "doc_a",
            )
            .join(
                F.broadcast(
                    sizes.select(
                        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
                    )
                ),
                "doc_b",
            )
            .select(
                "i",
                "is_pre",
                (
                    2 * F.col("i") >= F.col("na") + F.col("nb") - F.col("i")
                ).alias("is_true"),
            )
        )
        row = ann2.agg(
            F.count(F.lit(1)).cast("long").alias("n_all"),
            F.sum(F.when(F.col("is_true"), 1).otherwise(0))
            .cast("long")
            .alias("n_true"),
            F.sum(F.when(F.col("is_pre"), 1).otherwise(0))
            .cast("long")
            .alias("n_pre"),
            F.sum(
                F.when(F.col("is_true") & F.col("is_pre"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_verified"),
        ).collect()[0]
        n_all = int(row["n_all"] or 0)
        n_true = int(row["n_true"] or 0)
        n_pre = int(row["n_pre"] or 0)
        n_verified = int(row["n_verified"] or 0)
        n_missed = n_true - n_verified
        n_docs = perdoc.count()
    finally:
        ds.unpersist()
        if perdoc is not None:
            perdoc.unpersist()
    reduction = 1000 * (n_all - n_pre) // n_all if n_all else 0
    return spark.createDataFrame(
        [(n_docs, n_all, n_pre, n_true, n_verified, n_missed, reduction)],
        "n_docs long, n_candidates_allshare long, n_candidates_prefix long,"
        " n_true_pairs long, n_verified long, n_missed long,"
        " reduction_permille long",
    )


# ---------------------------------------------------------------- wave 26
# TextRank keyword extraction (Mihalcea & Tarau, "TextRank: Bringing
# Order into Texts", EMNLP 2004): PageRank over the word co-occurrence
# graph. The standard implementation shape (gensim/summa): filter the
# token stream (here: drop the corpus' top-K most frequent tokens, the
# same data-driven stop rule RAKE uses), take adjacency in the FILTERED
# sequence as the co-occurrence window, build the weighted undirected
# graph, and run the weighted PageRank. K matches RAKE's corpus-aware
# choice (_RAKE_STOPS = 5): this fixture's vocabulary is 31 words, so a
# web-scale K would empty the graph.
#     WS(v) = (1-d) + d·Σ_u  w_uv / strength(u) · WS(u),  d = 0.85
# as the registry's exact-integer fixpoint (graph_pagerank_convergence's
# recipe: micro-unit scores, 17/20 rational damping, per-edge floor
# division — both engines reproduce every round bit-for-bit).

_TR_STOPS = 5
_TR_ITERS = 6
_TR_TOPK = 20


def _build_textrank_oracle() -> str:
    from ..operators.text import duck_tokens

    toks = duck_tokens("text")
    rounds = []
    for k in range(1, _TR_ITERS + 1):
        rounds.append(f"""
    c{k} AS MATERIALIZED (
      SELECT e.v AS node,
             CAST(SUM((p.s * 17 * e.wt) // (20 * st.strength)) AS BIGINT)
               AS inc
      FROM e JOIN it{k - 1} p ON p.node = e.u JOIN st ON st.u = e.u
      GROUP BY e.v
    ), it{k} AS MATERIALIZED (
      SELECT st.u AS node, CAST(150000 + COALESCE(c.inc, 0) AS BIGINT) AS s
      FROM st LEFT JOIN c{k} c ON c.node = st.u
    )""")
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, pos, w FROM (
        SELECT doc_id, generate_subscripts({toks}, 1) AS pos,
               unnest({toks}) AS w
        FROM documents)
    ),
    stop AS MATERIALIZED (
      SELECT w FROM (
        SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        ORDER BY c DESC, w LIMIT {_TR_STOPS})
    ),
    seq AS MATERIALIZED (
      SELECT w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM tok WHERE w NOT IN (SELECT w FROM stop)
    ),
    pairs AS MATERIALIZED (
      SELECT least(w, w2) AS wa, greatest(w, w2) AS wb,
             CAST(COUNT(*) AS BIGINT) AS wt
      FROM seq WHERE w2 IS NOT NULL AND w <> w2 GROUP BY 1, 2
    ),
    e AS MATERIALIZED (
      SELECT wa AS u, wb AS v, wt FROM pairs
      UNION ALL SELECT wb, wa, wt FROM pairs
    ),
    st AS MATERIALIZED (
      SELECT u, CAST(SUM(wt) AS BIGINT) AS strength FROM e GROUP BY u
    ),
    it0 AS MATERIALIZED (
      SELECT u AS node, CAST(1000000 AS BIGINT) AS s FROM st
    ),
    {",".join(rounds)}
    SELECT p.node AS word, p.s AS score_micro, st.strength
    FROM it{_TR_ITERS} p JOIN st ON st.u = p.node
    ORDER BY p.s DESC, p.node LIMIT {_TR_TOPK}
    """


@query(
    "text_textrank_keywords",
    oracle=_build_textrank_oracle(),
    tags=("llm", "text", "graph"),
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 TextRank keywords: weighted-PageRank scores (micro, after
    6 exact-integer rounds) over the filtered-adjacency word
    co-occurrence graph, with each word's edge strength. Plan: one
    tokenize explode; the stop list is a bounded top-K broadcast
    anti-join; the graph relations are vocab-bounded; each round is one
    keyed join+agg over the edge relation with a localCheckpoint lineage
    break (the graph-op discipline); the report is a TakeOrdered."""
    from ..operators.text import tokens

    docs = load_tables(spark, sf_dir, "documents").documents
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    )
    stop = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(_TR_STOPS)
        .select("w")
    )
    seq = tok.join(F.broadcast(stop), "w", "left_anti").select(
        "w",
        F.lead("w").over(
            Window.partitionBy("doc_id").orderBy("pos")
        ).alias("w2"),
    )
    pairs = (
        seq.filter(F.col("w2").isNotNull() & (F.col("w") != F.col("w2")))
        .groupBy(
            F.least("w", "w2").alias("wa"), F.greatest("w", "w2").alias("wb")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("wt"))
    )
    e = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("wa").alias("u"), F.col("wb").alias("v"), F.col("wt")
                ),
                F.struct(
                    F.col("wb").alias("u"), F.col("wa").alias("v"), F.col("wt")
                ),
            )
        ).alias("p")
    ).select("p.u", "p.v", "p.wt")
    st = e.groupBy("u").agg(F.sum("wt").cast("long").alias("strength"))
    # r13: ed/nodes stay eagerly materialized (each is referenced every
    # round), but the per-round ``s`` checkpoint is GONE: the round
    # lineage is LINEAR (each s feeds only the next round), so the whole
    # 6-round chain evaluates lazily in ONE action instead of paying an
    # eager driver round-trip per round (guide §5; interleaved A/B
    # 3.14 → 2.52 s, results bit-identical). This is the lever the r12
    # HITS attempts could not use — HITS references its state twice per
    # half-round (normalization), TextRank exactly once.
    ed = e.join(st, "u").select("u", "v", "wt", "strength").localCheckpoint(
        eager=True
    )
    nodes = st.select(F.col("u").alias("node"), "strength").localCheckpoint(
        eager=True
    )
    s = nodes.select("node", F.lit(1_000_000).cast("long").alias("s"))
    for _k in range(_TR_ITERS):
        contrib = (
            ed.join(s.withColumnRenamed("node", "u"), "u")
            .select(
                F.col("v").alias("node"),
                F.expr("(s * 17 * wt) div (20 * strength)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("inc"))
        )
        s = (
            nodes.select("node")
            .join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(150_000) + F.coalesce(F.col("inc"), F.lit(0)))
                .cast("long")
                .alias("s"),
            )
        )
    return (
        s.join(nodes, "node")
        .select(
            F.col("node").alias("word"),
            F.col("s").alias("score_micro"),
            "strength",
        )
        .orderBy(F.desc("score_micro"), "word")
        .limit(_TR_TOPK)
    )


# ---------------------------------------------------------------- wave 27
# Poisson bootstrap confidence interval (Efron's bootstrap in the
# streaming-friendly form: Oza & Russell 2001's online bagging;
# Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
# Google TR 2012): instead of resampling n-out-of-n (which needs a
# global pass per replicate), every row independently receives a
# Poisson(1) weight per replicate — the ONLY bootstrap that
# map-side-aggregates at 100 TB. Weights are deterministic and cheap:
# ONE portable char-fold md5 hash per EVENT (not per replicate — the
# per-replicate fold measured 26 s at sf0.1), then per-replicate
# uniforms u_r = cube((h_base + (r+1)·2654435761) mod p) mod p where
# cube(x) = x³ mod p is a PERMUTATION of [0, p) because
# gcd(3, p-1) = 1 for p = 1e9+7 (Fermat) — the nonlinearity kills the
# affine-in-r lattice a multiply-add derivation alone would leave.
# Poisson(1) inverse-CDF thresholds are import-time integer literals
# scaled to p (tail capped at w=8, P ~ 1e-5, documented). Every
# replicate sum is an exact integer; each replicate mean is ONE double
# division, micro-rounded; the CI is an order statistic over the R
# replicate means (rank 2 and rank R-1 at R=40 — the floor(0.025R)+1
# convention, stated, not interpolated).

_BOOT_R = 40
#: floor(MOD * P(Poisson(1) <= k)) for k = 0..7; weight = #thresholds
#: the hash clears (so P(w=k) is exact to 1/MOD).
_BOOT_T = (367879443, 735758887, 919698609, 981011849,
           996340160, 999405822, 999916765, 999989757)
_BOOT_LO = 2          # floor(0.025 * 40) + 1
_BOOT_HI = _BOOT_R - 1  # 40 - floor(0.025 * 40)


_BOOT_MOD = 1_000_000_007
_BOOT_STEP = 2_654_435_761


def _build_boot_oracle() -> str:
    from ..operators.text import duck_char_fold

    hb = duck_char_fold("md5(CAST(event_id AS VARCHAR))")
    w = " + ".join(f"(CASE WHEN h >= {t} THEN 1 ELSE 0 END)" for t in _BOOT_T)
    return f"""
    WITH ev AS MATERIALIZED (
      SELECT {hb} AS hb, CAST(ROUND(value * 1000, 0) AS BIGINT) AS v
      FROM events
    ),
    reps AS (SELECT unnest(generate_series(0, {_BOOT_R - 1})) AS r),
    hashed AS (
      SELECT r, v,
             ((u * u) % {_BOOT_MOD}) * u % {_BOOT_MOD} AS h
      FROM (SELECT r, v,
                   (hb + (r + 1) * {_BOOT_STEP}) % {_BOOT_MOD} AS u
            FROM ev CROSS JOIN reps)
    ),
    weighted AS (
      SELECT r, v, CAST({w} AS BIGINT) AS w FROM hashed
    ),
    per_rep AS (
      SELECT r, CAST(SUM(w * v) AS BIGINT) AS num,
             CAST(SUM(w) AS BIGINT) AS den
      FROM weighted GROUP BY r
    ),
    means AS (
      SELECT r,
             CAST(CASE WHEN den = 0 THEN 0
                  ELSE ROUND(1000.0 * num / den) END AS BIGINT) AS m
      FROM per_rep
    ),
    ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m, r) AS rn FROM means
    ),
    pt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(ROUND(1000.0 * SUM(v) / COUNT(*)) AS BIGINT) AS point_micro
      FROM ev
    )
    SELECT pt.n_events, CAST({_BOOT_R} AS BIGINT) AS n_replicates,
           pt.point_micro,
           (SELECT m FROM ranked WHERE rn = {_BOOT_LO}) AS ci_lo_micro,
           (SELECT m FROM ranked WHERE rn = {_BOOT_HI}) AS ci_hi_micro,
           (SELECT m FROM ranked WHERE rn = {_BOOT_HI})
             - (SELECT m FROM ranked WHERE rn = {_BOOT_LO}) AS width_micro
    FROM pt
    """


@query(
    "events_poisson_bootstrap_ci",
    oracle=_build_boot_oracle(),
    tags=("streaming", "events", "stats"),
)
def events_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap CI for the mean event value: 40
    deterministic hash-weighted replicates, each an exact-integer
    (Sum w·v, Sum w) pair, one micro-rounded division per replicate,
    order-statistic CI (ranks 2 and 39). Plan: the replicate axis is a
    JVM-side sequence explode (no shuffle to fan out); everything
    aggregates map-side into a 40-row relation — the reason Poisson
    bootstrap is THE bootstrap that survives 100 TB."""
    from ..operators.text import char_fold_hash

    ev = load_tables(spark, sf_dir, "events").events.select(
        char_fold_hash(F.md5(F.col("event_id").cast("string"))).alias("hb"),
        F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("v"),
    )
    u = (F.col("hb") + (F.col("r") + 1) * F.lit(_BOOT_STEP)) % _BOOT_MOD
    rep = ev.select(
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R - 1))).alias("r"),
        F.col("hb"),
    ).select(
        "v",
        "r",
        (((u * u) % _BOOT_MOD) * u % _BOOT_MOD).alias("h"),
    )
    w = None
    for t_ in _BOOT_T:
        term = F.when(F.col("h") >= t_, 1).otherwise(0)
        w = term if w is None else w + term
    per_rep = (
        rep.select("r", "v", w.cast("long").alias("w"))
        .groupBy("r")
        .agg(
            F.sum(F.col("w") * F.col("v")).cast("long").alias("num"),
            F.sum("w").cast("long").alias("den"),
        )
    )
    means = per_rep.select(
        "r",
        F.when(F.col("den") == 0, F.lit(0))
        .otherwise(F.round(F.lit(1000.0) * F.col("num") / F.col("den")))
        .cast("long")
        .alias("m"),
    )
    ranked = means.select(
        "m", F.row_number().over(Window.orderBy("m", "r")).alias("rn")
    )
    ci = ranked.agg(
        F.max(F.when(F.col("rn") == _BOOT_LO, F.col("m"))).alias("lo"),
        F.max(F.when(F.col("rn") == _BOOT_HI, F.col("m"))).alias("hi"),
    )
    pt = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.lit(1000.0) * F.sum("v") / F.count(F.lit(1)))
        .cast("long")
        .alias("point_micro"),
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        "n_events",
        F.lit(_BOOT_R).cast("long").alias("n_replicates"),
        "point_micro",
        F.col("lo").cast("long").alias("ci_lo_micro"),
        F.col("hi").cast("long").alias("ci_hi_micro"),
        (F.col("hi") - F.col("lo")).cast("long").alias("width_micro"),
    )


# ---------------------------------------------------------------- wave 28
# Isotonic (PAV) calibration of the NB margin (Zadrozny & Elkan, KDD
# 2002; Robertson/Wright/Dykstra's minimax characterization): the
# reliability curve (llm_ops12 wave 17) shows per-decile pass rates;
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
    from .llm_ops11 import _nb_chain_sql

    return f"""
    WITH {_nb_chain_sql()},
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

    scored = _nb_scored(spark, sf_dir).select(
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
            _idiv_col(
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
            _idiv_col(F.lit(1000) * F.col("n_pass"), F.col("n_docs")).alias(
                "raw_rate_permille"
            ),
            F.col("iso_nano").alias("iso_rate_nano"),
            _idiv_col(F.col("iso_nano"), F.lit(1_000_000)).alias(
                "iso_rate_permille"
            ),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------- wave 29
# Population Stability Index per source (the credit-scoring industry's
# standard drift metric — Siddiqi, "Credit Risk Scorecards", 2006;
# PSI = Σ_b (p_b - q_b)·ln(p_b/q_b), the symmetrized KL a score
# monitor alarms on at 0.1/0.25): the BINNED companion to the KS
# (any-difference), Mann-Whitney (location) and chi-square screens —
# PSI is what production monitoring dashboards actually threshold.
# Bins are the global length deciles (the registry's rank-statistic
# NTILE convention); empty cells take the Laplace add-one
# (p_b = (c_b+1)/(n+10)) so the log never blows — stated, not silent.
# Per-(source, bin) terms are micro-rounded BEFORE the sum (the KN
# per-position recipe: the total is an order-free integer sum).


@query(
    "profile_psi_source_drift",
    oracle="""
    WITH binned AS (
      SELECT source,
             NTILE(10) OVER (ORDER BY n_chars, doc_id) AS b
      FROM documents
    ),
    cells AS (
      SELECT source, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM binned GROUP BY source, b
    ),
    srcs AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n1 FROM cells GROUP BY source
    ),
    tots AS (
      SELECT b, CAST(SUM(c) AS BIGINT) AS tot FROM cells GROUP BY b
    ),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cells),
    grid AS (
      SELECT s.source, s.n1, t.b, t.tot, COALESCE(c.c, 0) AS c, n.nn
      FROM srcs s CROSS JOIN tots t CROSS JOIN n
      LEFT JOIN cells c ON c.source = s.source AND c.b = t.b
    ),
    terms AS (
      SELECT source, n1,
             CAST(ROUND((CAST(c + 1 AS DOUBLE) / (n1 + 10)
                         - CAST(tot - c + 1 AS DOUBLE) / (nn - n1 + 10))
                        * ln((CAST(c + 1 AS DOUBLE) / (n1 + 10))
                             / (CAST(tot - c + 1 AS DOUBLE)
                                / (nn - n1 + 10)))
                        * 1000000) AS BIGINT) AS term
      FROM grid
    )
    SELECT source, n1, CAST(SUM(term) AS BIGINT) AS psi_micro
    FROM terms GROUP BY source, n1 ORDER BY source
    """,
    tags=("llm", "quality", "eval"),
)
def profile_psi_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of each source's document-length distribution against its
    complement, over the global length deciles: per-cell add-one
    frequencies, one micro-rounded (p-q)·ln(p/q) term per cell, exact
    integer sum. Plan: one global decile window, one (source, bin)
    aggregate (source×10 cells), then everything lives on the 200-row
    grid — the dense source×bin cross join is two broadcast dimension
    relations, never doc grain."""
    docs = load_tables(spark, sf_dir, "documents").documents
    binned = docs.select(
        "source",
        F.ntile(10).over(Window.orderBy("n_chars", "doc_id")).alias("b"),
    )
    cells = binned.groupBy("source", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    srcs = cells.groupBy("source").agg(F.sum("c").cast("long").alias("n1"))
    tots = cells.groupBy("b").agg(F.sum("c").cast("long").alias("tot"))
    n = cells.agg(F.sum("c").cast("long").alias("nn"))
    grid = (
        srcs.crossJoin(F.broadcast(tots))
        .crossJoin(F.broadcast(n))
        .join(cells, ["source", "b"], "left")
        .select(
            "source",
            "n1",
            "tot",
            "nn",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    p = (F.col("c") + 1).cast("double") / (F.col("n1") + 10)
    q = (F.col("tot") - F.col("c") + 1).cast("double") / (
        F.col("nn") - F.col("n1") + 10
    )
    term = F.round((p - q) * F.log(p / q) * 1_000_000).cast("long")
    return (
        grid.select("source", "n1", term.alias("term"))
        .groupBy("source", "n1")
        .agg(F.sum("term").cast("long").alias("psi_micro"))
        .orderBy("source")
    )


# ---------------------------------------------------------------- wave 30
# Exponentially-weighted moving average forecast eval (Brown 1956;
# Hunter, "The Exponentially Weighted Moving Average", JQT 1986): the
# one-step-ahead ingest-volume forecast every ops dashboard runs,
# s_t = α·c_t + (1-α)·s_{t-1} with α = 1/2. The dyadic α has a closed
# form that needs NO recursion and stays EXACT end-to-end:
#     A_t := 2^{t-1}·s_t = c_1 + Σ_{i=2..t} c_i·2^{i-2}
# is one window sum of integer-shifted counts (A_30 ≤ 3000·2^28 < 2^53),
# and s_t = A_t / 2^{t-1} is an exact IEEE double (power-of-two divide
# of a < 2^53 integer never rounds). The only rounding anywhere is the
# final ×1e6 micro conversion — correctly-rounded, identical on both
# engines. Forecast error e_t = c_t - s_{t-1} is likewise exact before
# its micro conversion.


@query(
    "events_ewma_forecast_eval",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, c,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY day) AS BIGINT) AS i
      FROM daily
    ),
    acc AS (
      SELECT event_type, i, c,
             CAST(SUM(c * (CASE WHEN i = 1 THEN 1
                           ELSE CAST(1 AS BIGINT) << (i - 2) END))
                  OVER (PARTITION BY event_type ORDER BY i) AS BIGINT) AS a
      FROM idx
    ),
    lagged AS (
      SELECT event_type, i, c, a,
             LAG(a) OVER (PARTITION BY event_type ORDER BY i) AS a_prev
      FROM acc
    ),
    terms AS (
      SELECT event_type,
             CAST(ROUND(1000000 * (c - CAST(a_prev AS DOUBLE)
                                       / power(2.0, i - 2))) AS BIGINT) AS e
      FROM lagged WHERE i >= 2
    ),
    lvl0 AS (
      SELECT event_type, CAST(MAX(i) AS BIGINT) AS n_days,
             CAST(MAX(a) AS BIGINT) AS a_max,
             CAST(MAX_BY(a, i) AS BIGINT) AS a_last,
             CAST(ROUND(1000000 * (CAST(MAX_BY(a, i) AS DOUBLE)
                                   / power(2.0, MAX(i) - 1)))
                  AS BIGINT) AS level_micro
      FROM lagged GROUP BY event_type
    ),
    lvl AS (
      SELECT event_type,
             CASE WHEN n_days <= 62 AND a_max < 9007199254740992
                       AND a_last = a_max
                  THEN n_days
                  ELSE CAST(error('events_ewma_forecast_eval: closed-form '
                       || 'capacity exceeded (n_days > 62, A_t >= 2^53, '
                       || 'or accumulator wrapped)') AS BIGINT)
             END AS n_days,
             level_micro
      FROM lvl0
    )
    SELECT l.event_type, l.n_days, l.level_micro,
           CAST(SUM(ABS(t.e)) // (l.n_days - 1) AS BIGINT) AS mae_micro,
           CAST(MAX(ABS(t.e)) AS BIGINT) AS max_abs_err_micro
    FROM lvl l JOIN terms t ON t.event_type = l.event_type
    GROUP BY l.event_type, l.n_days, l.level_micro
    ORDER BY l.event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_ewma_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead EWMA (α=1/2) forecast quality per event type over
    daily counts: the final smoothed level, mean and max absolute
    forecast error (micro) — all from the exact closed-form window sum
    (no recursion, no float drift; the dyadic denominator makes every
    intermediate an exact double). Plan: one daily rollup, then one
    day-dimension window pass."""
    ev = load_tables(spark, sf_dir, "events").events
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type", "c", F.row_number().over(w).cast("long").alias("i")
    )
    wi = Window.partitionBy("event_type").orderBy("i")
    acc = idx.select(
        "event_type",
        "i",
        "c",
        F.sum(
            F.col("c")
            * F.when(F.col("i") == 1, F.lit(1).cast("long")).otherwise(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(i - 2 AS INT))")
            )
        )
        .over(wi)
        .cast("long")
        .alias("a"),
    )
    lagged = acc.select(
        "event_type", "i", "c", "a", F.lag("a").over(wi).alias("a_prev")
    )
    terms = lagged.filter(F.col("i") >= 2).select(
        "event_type",
        F.round(
            1_000_000
            * (
                F.col("c")
                - F.col("a_prev").cast("double")
                / F.pow(F.lit(2.0), F.col("i") - 2)
            )
        )
        .cast("long")
        .alias("e"),
    )
    # Capacity guard (r9 ADVICE): the closed form A_t = Σ c_i·2^(i-2) is
    # exact only while the shift stays in-word (n_days ≤ 62) and A_t
    # stays an exact double (< 2^53); a is nondecreasing for nonneg
    # counts, so last-A == max-A detects a silent BIGINT wrap. A fixture
    # past the bound fails LOUDLY on both engines (raise_error/error())
    # instead of emitting wrapped garbage.
    lvl0 = lagged.groupBy("event_type").agg(
        F.max("i").cast("long").alias("nd_raw"),
        F.max("a").cast("long").alias("a_max"),
        F.max_by("a", "i").cast("long").alias("a_last"),
        F.round(
            1_000_000
            * (
                F.max_by("a", "i").cast("double")
                / F.pow(F.lit(2.0), F.max("i") - 1)
            )
        )
        .cast("long")
        .alias("level_micro"),
    )
    guard_ok = (
        (F.col("nd_raw") <= F.lit(62))
        & (F.col("a_max") < F.lit(9007199254740992))
        & (F.col("a_last") == F.col("a_max"))
    )
    lvl = lvl0.select(
        "event_type",
        F.when(guard_ok, F.col("nd_raw"))
        .otherwise(
            F.raise_error(
                "events_ewma_forecast_eval: closed-form capacity exceeded "
                "(n_days > 62, A_t >= 2^53, or accumulator wrapped)"
            ).cast("long")
        )
        .alias("n_days"),
        "level_micro",
    )
    return (
        lvl.join(terms, "event_type")
        .groupBy("event_type", "n_days", "level_micro")
        .agg(
            _idiv_col(F.sum(F.abs(F.col("e"))), F.col("n_days") - 1).alias(
                "mae_micro"
            ),
            F.max(F.abs(F.col("e"))).cast("long").alias("max_abs_err_micro"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- wave 31
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


# ---------------------------------------------------------------- wave 32
# Greedy k-center coreset (Gonzalez, "Clustering to minimize the
# maximum intercluster distance", TCS 1985): the 2-approximation
# farthest-point traversal — the standard diversity-coreset selector a
# curation stack runs to seed diverse fine-tuning subsets (and the
# seeding half of k-means++). Distance is cosine distance in the
# registry's micro fixed-point (FLOOR(cos·1e6), the IVF recipe), so
# every argmax is an integer comparison with a vec_id tie-break. The
# incremental form keeps ONE dmin per point (new dmin = least(old,
# dist-to-newest-center)) — each round is one broadcast-join pass, and
# the K-1 argmaxes are TakeOrdered(1) collects (K-bounded, the
# documented dimension-collect class). radius_micro of round r is the
# covering radius of the first r-1 centers (what the selected point
# was missing by); the seed row reports -1.

_KC_K = 8


def _build_kcenter_oracle() -> str:
    from .llm_ops import _duck_cosine

    dist = (
        f"1000000 - CAST(FLOOR({_duck_cosine('d.embedding', 'c.embedding')}"
        f" * 1000000) AS BIGINT)"
    )
    parts = [
        """
    c1 AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1
    ),
    d1 AS MATERIALIZED (
      SELECT d.vec_id, d.embedding, {dist0} AS dmin
      FROM embeddings d CROSS JOIN c1 c
    )""".format(
            dist0=dist
        )
    ]
    for r in range(2, _KC_K + 1):
        parts.append(f"""
    p{r} AS MATERIALIZED (
      SELECT vec_id, dmin FROM d{r - 1}
      ORDER BY dmin DESC, vec_id LIMIT 1
    ),
    c{r} AS MATERIALIZED (
      SELECT e.vec_id, e.embedding FROM embeddings e
      JOIN p{r} p ON p.vec_id = e.vec_id
    ),
    d{r} AS MATERIALIZED (
      SELECT d.vec_id, d.embedding, LEAST(d.dmin, {dist}) AS dmin
      FROM d{r - 1} d CROSS JOIN c{r} c
    )""")
    rows = [
        "SELECT CAST(1 AS BIGINT) AS round,"
        " (SELECT vec_id FROM c1) AS vec_id,"
        " CAST(-1 AS BIGINT) AS radius_micro"
    ]
    rows.extend(
        f"SELECT CAST({r} AS BIGINT), p{r}.vec_id,"
        f" CAST(p{r}.dmin AS BIGINT) FROM p{r}"
        for r in range(2, _KC_K + 1)
    )
    return (
        "WITH " + ",".join(parts) + "\n    SELECT * FROM ("
        + " UNION ALL ".join(rows)
        + ") ORDER BY round"
    )


@query(
    "curation_kcenter_coreset",
    oracle=_build_kcenter_oracle(),
    tags=("llm", "curation", "similarity"),
)
def curation_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gonzalez farthest-point traversal over the embedding table: the
    8 chosen coreset centers in selection order with the covering-radius
    curve (cosine distance, micro). The radius sequence is
    non-increasing — the 2-approximation guarantee's witness. Plan:
    one cached embedding scan; each round joins the corpus to a
    broadcast 1-row center and takes a single TakeOrdered(1); no
    pairwise relation ever materializes."""
    from ..operators.similarity import cosine

    emb = load_tables(spark, sf_dir, "embeddings").embeddings.select(
        "vec_id", "embedding"
    ).cache()
    try:
        seed = emb.orderBy("vec_id").limit(1)
        dist_to = lambda cvec: (  # noqa: E731
            F.lit(1_000_000)
            - F.floor(cosine(F.col("embedding"), F.col("cvec")) * 1_000_000)
        ).cast("long")
        cur = (
            emb.crossJoin(
                F.broadcast(seed.select(F.col("embedding").alias("cvec")))
            )
            .select("vec_id", "embedding", dist_to("cvec").alias("dmin"))
            .localCheckpoint(eager=True)
        )
        out = [(1, seed.collect()[0]["vec_id"], -1)]
        for r in range(2, _KC_K + 1):
            pick = (
                cur.orderBy(F.desc("dmin"), F.asc("vec_id")).limit(1).collect()[0]
            )
            out.append((r, pick["vec_id"], pick["dmin"]))
            if r < _KC_K:
                cvec = emb.filter(F.col("vec_id") == pick["vec_id"]).select(
                    F.col("embedding").alias("cvec")
                )
                cur = (
                    cur.crossJoin(F.broadcast(cvec))
                    .select(
                        "vec_id",
                        "embedding",
                        F.least(F.col("dmin"), dist_to("cvec")).alias("dmin"),
                    )
                    .localCheckpoint(eager=True)
                )
    finally:
        emb.unpersist()
    return spark.createDataFrame(
        out, "round long, vec_id long, radius_micro long"
    )


# ---------------------------------------------------------------- wave 33
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
            _idiv_col(
                F.lit(1000)
                * (F.col("nn") * F.col("sq") - F.col("tot") * F.col("tot")),
                F.col("nn") * F.col("tot"),
            ).alias("vmr_milli"),
        )
        .orderBy(F.desc("vmr_milli"), "w")
        .limit(_BURST_TOPK)
    )


# ---------------------------------------------------------------- wave 34
# Greedy submodular max-coverage selection (Nemhauser, Wolsey & Fisher
# 1978's (1-1/e) guarantee; Lin & Bilmes, "A Class of Submodular
# Functions for Document Summarization", ACL 2011): pick k docs
# maximizing distinct-shingle coverage — the canonical
# diversity-selection primitive in data curation. Greedy: each round
# takes the doc with the most UNCOVERED shingles (gain DESC, doc_id
# tie-break, picked docs excluded). Everything is exact counting.

_SUB_K = 8


def _build_subcover_oracle() -> str:
    parts = [f"""
    u AS (SELECT CAST(COUNT(DISTINCT sh) AS BIGINT) AS usz FROM ds),
    g1 AS MATERIALIZED (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
      FROM ds GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1
    ),
    cov1 AS MATERIALIZED (
      SELECT DISTINCT sh FROM ds JOIN g1 USING (doc_id)
    ),
    picked1(doc_id) AS (SELECT doc_id FROM g1)"""]
    for r in range(2, _SUB_K + 1):
        parts.append(f"""
    g{r} AS MATERIALIZED (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
      FROM ds
      WHERE sh NOT IN (SELECT sh FROM cov{r - 1})
        AND doc_id NOT IN (SELECT doc_id FROM picked{r - 1})
      GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1
    ),
    cov{r} AS MATERIALIZED (
      SELECT sh FROM cov{r - 1}
      UNION SELECT sh FROM ds JOIN g{r} USING (doc_id)
    ),
    picked{r}(doc_id) AS (
      SELECT doc_id FROM picked{r - 1} UNION SELECT doc_id FROM g{r}
    )""")
    rows = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, g{r}.doc_id, g{r}.gain,"
        f" (SELECT CAST(COUNT(*) AS BIGINT) FROM cov{r}) AS covered,"
        f" (SELECT CAST(1000 * COUNT(*) // (SELECT usz FROM u) AS BIGINT)"
        f"  FROM cov{r}) AS coverage_permille"
        f" FROM g{r}"
        for r in range(1, _SUB_K + 1)
    )
    return (
        "WITH " + DUCK_SHINGLE_SETS + "," + ",".join(parts)
        + f"\n    SELECT * FROM ({rows}) ORDER BY round"
    )


@query(
    "curation_submodular_coverage",
    oracle=_build_subcover_oracle(),
    tags=("llm", "curation", "dedup"),
)
def curation_submodular_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage doc selection over the shingle universe: the
    8 picks in order with marginal gain, cumulative covered-shingle
    count, and coverage permille — the (1-1/e) submodular curation
    baseline. Plan (r12): one cached shingle relation; each round is
    EXACTLY one job — an anti-join against the distinct shingles of the
    ≤K already-picked docs (a K-doc-bounded, broadcastable relation
    derived from the same cache — no per-round localCheckpoint
    materialization) + count aggregate + TakeOrdered(1). The cumulative
    covered count needs no job at all: ``ds`` carries per-doc DISTINCT
    shingles and candidates exclude covered ones, so each round's gain
    IS the newly covered count — |covered_r| = |covered_{r-1}| + gain_r
    exactly (was 3 jobs/round: pick collect + checkpoint + count)."""
    from ..operators import dedup as D

    docs = load_tables(spark, sf_dir, "documents").documents
    ds = D.shingle_sets(docs).cache()
    try:
        universe = ds.select("sh").distinct().count()
        picked: list[int] = []
        out = []
        cov_n = 0
        for r in range(1, _SUB_K + 1):
            cand = ds
            if picked:
                cand = cand.filter(~F.col("doc_id").isin(picked))
                covered = (
                    ds.filter(F.col("doc_id").isin(picked))
                    .select("sh")
                    .distinct()
                )
                cand = cand.join(covered, "sh", "left_anti")
            pick = (
                cand.groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("long").alias("gain"))
                .orderBy(F.desc("gain"), F.asc("doc_id"))
                .limit(1)
                .collect()[0]
            )
            cov_n += int(pick["gain"])
            picked.append(pick["doc_id"])
            out.append(
                (r, pick["doc_id"], pick["gain"], cov_n,
                 1000 * cov_n // universe)
            )
    finally:
        ds.unpersist()
    return spark.createDataFrame(
        out,
        "round long, doc_id long, gain long, covered long,"
        " coverage_permille long",
    )


# ---------------------------------------------------------------- wave 35
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
    WITH {_nb_chain_sql()},
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
    conf = _nb_scored(spark, sf_dir).agg(*_nb_confusion_aggs())
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    mcc_den = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    return conf.select(
        "tp", "fp", "fn", "tn",
        F.when(tp + fp == 0, F.lit(-1))
        .otherwise(_idiv_col(F.lit(1000) * tp, tp + fp))
        .cast("long")
        .alias("precision_permille"),
        F.when(tp + fn == 0, F.lit(-1))
        .otherwise(_idiv_col(F.lit(1000) * tp, tp + fn))
        .cast("long")
        .alias("recall_permille"),
        F.when(2 * tp + fp + fn == 0, F.lit(-1))
        .otherwise(_idiv_col(F.lit(2000) * tp, 2 * tp + fp + fn))
        .cast("long")
        .alias("f1_permille"),
        F.when((tp + fn == 0) | (tn + fp == 0), F.lit(-1))
        .otherwise(
            _idiv_col(
                _idiv_col(F.lit(1000) * tp, tp + fn)
                + _idiv_col(F.lit(1000) * tn, tn + fp),
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


# ---------------------------------------------------------------- wave 36
# Theil inequality index per nation (Theil, "Economics and Information
# Theory", 1967): T = (1/n)·Σ (x_i/μ)·ln(x_i/μ) over order totals —
# the decomposable entropy-based inequality measure beside the
# registry's Gini and HHI. Per-order terms are micro-rounded before
# the sum (order-free integer total, the KN recipe); μ derives from
# the exact DECIMAL sum so both engines divide identical doubles.


@query(
    "agg_theil_index_by_nation",
    oracle="""
    WITH base AS (
      SELECT n.n_name AS nation,
             CAST(CAST(o.o_totalprice AS DECIMAL(18, 2)) * 100 AS BIGINT)
               AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    mu AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(cents) AS BIGINT) AS tot
      FROM base GROUP BY nation
    ),
    terms AS (
      SELECT b.nation,
             CAST(ROUND((CAST(b.cents AS DOUBLE) * m.n_orders / m.tot)
                        * ln(CAST(b.cents AS DOUBLE) * m.n_orders / m.tot)
                        * 1000000) AS BIGINT) AS t
      FROM base b JOIN mu m ON m.nation = b.nation
    )
    SELECT m.nation, m.n_orders,
           CAST(SUM(t.t) // m.n_orders AS BIGINT) AS theil_micro
    FROM mu m JOIN terms t ON t.nation = m.nation
    GROUP BY m.nation, m.n_orders
    ORDER BY m.nation
    """,
    tags=("relational", "agg", "stats"),
)
def agg_theil_index_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of order totals per customer nation (micro):
    the entropy-based companion to agg_gini_by_nation / agg_hhi —
    decomposable across subgroups, which is why inequality audits of
    revenue concentration prefer it. Per-order micro-rounded terms,
    exact integer cents (DECIMAL-cast before scaling), one keyed
    aggregate after two dimension joins (nation broadcast). T >= 0,
    0 = perfectly equal."""
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    base = (
        t.orders.join(
            t.customer, t.orders.o_custkey == t.customer.c_custkey
        )
        .join(
            F.broadcast(t.nation),
            t.customer.c_nationkey == t.nation.n_nationkey,
        )
        .select(
            F.col("n_name").alias("nation"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    mu = base.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("tot"),
    )
    x = F.col("cents").cast("double") * F.col("n_orders") / F.col("tot")
    terms = base.join(F.broadcast(mu), "nation").select(
        "nation",
        "n_orders",
        F.round(x * F.log(x) * 1_000_000).cast("long").alias("t"),
    )
    return (
        terms.groupBy("nation", "n_orders")
        .agg(_idiv_col(F.sum("t"), F.col("n_orders")).alias("theil_micro"))
        .orderBy("nation")
    )


# ---------------------------------------------------------------- wave 37
# Content-defined chunking dedup (Muthitacharoen, Chen & Mazières,
# "A Low-Bandwidth Network File System", SOSP 2001; Xia et al.,
# "FastCDC", ATC 2016): split every document at positions where the
# rolling hash of the trailing 8 chars satisfies h % 64 == 0, then
# fingerprint the chunks — boundaries depend only on LOCAL content, so
# an insertion shifts one chunk instead of re-aligning the whole doc
# (the property fixed-size blocks lack, and the reason storage dedup
# uses CDC). The rolling window hash is the registry's portable char
# fold over substring(text, i-7, 8); expected chunk length 64. Chunk
# relations are row-based (explode boundaries + one lag window), no
# indexed array lambdas — the same shapes on both engines.

_CDC_WINDOW = 8
_CDC_MASK = 64


def _build_cdc_oracle() -> str:
    from ..operators.text import duck_char_fold

    fold = duck_char_fold(f"substr(text, CAST(i AS INT) - 7, {_CDC_WINDOW})")
    return f"""
    WITH ends AS (
      SELECT doc_id, text, CAST(e AS BIGINT) AS e FROM (
        SELECT doc_id, text,
               unnest(list_append(
                 list_filter(generate_series({_CDC_WINDOW}, length(text)),
                             i -> ({fold}) % {_CDC_MASK} = 0),
                 length(text))) AS e
        FROM documents WHERE length(text) > 0
      )
    ),
    dedup_e AS (SELECT DISTINCT doc_id, text, e FROM ends),
    spans AS (
      SELECT doc_id, e,
             COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS s,
             text
      FROM dedup_e
    ),
    chunks AS (
      SELECT d.source, md5(substr(sp.text, CAST(sp.s AS INT) + 1,
                                  CAST(sp.e - sp.s AS INT))) AS fp,
             sp.e - sp.s AS clen
      FROM spans sp JOIN documents d USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_chunks,
           CAST(1000 * (COUNT(*) - COUNT(DISTINCT fp)) // COUNT(*)
                AS BIGINT) AS dup_chunk_permille,
           CAST(1000 * SUM(clen) // COUNT(*) AS BIGINT)
             AS mean_chunk_len_milli
    FROM chunks GROUP BY source ORDER BY source
    """


@query(
    "dedup_cdc_chunking",
    oracle=_build_cdc_oracle(),
    tags=("llm", "dedup"),
)
def dedup_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source content-defined-chunking dedup profile: chunk count,
    distinct fingerprints, duplicate-chunk rate (permille) and mean
    chunk length (milli) under Rabin-style h%64==0 boundaries over an
    8-char rolling window. Plan: the boundary scan is one JVM
    higher-order filter per doc over a once-built int codes array
    (O(bytes), CDC's inherent cost — r12: fan_out + codes array + a
    Generate barrier, see the inline note); chunk extraction is an
    explode + one doc-keyed lag window + substring — row shapes, no
    driver involvement; the rollup is one keyed aggregate. The text
    column rides the explode (64:1 against the chunk fan-out; at 100 TB
    swap to offsets + a re-join against the doc store if rows are huge
    — documented)."""
    from ..operators.scale import fan_out

    docs = load_tables(spark, sf_dir, "documents").documents.filter(
        F.length("text") > 0
    )
    # r12: the per-position window fold previously re-sliced the string —
    # ``aggregate(split(substring(text, i-7, 8), ''))`` — an interpreted
    # 8-step fold plus an O(i) substring scan and 9 string allocations for
    # EVERY position, all inside the scan's single small-file task. Now a
    # per-doc int codes array is built ONCE (post-fan_out, so the O(bytes)
    # work parallelizes across the shuffle width), and the lambda is 8
    # O(1) array reads + integer arithmetic. The direct 8-term polynomial
    # equals the stepwise fold exactly: each fold step keeps a < 1e9+7 so
    # a*31+c never overflows, hence fold(window) ≡ Σ 31^(7-j)·c_j (mod p),
    # and the direct sum's magnitude is ≤ ~7.3e12 ≪ 2^63. The one-element
    # explode between the codes projection and the boundary lambda is a
    # Generate BARRIER: CollapseProject cannot merge across Generate, so
    # the codes build cannot be re-inlined into the per-position lambda
    # (the documented project-collapse trap, operators/dedup.simhash note).
    # Equivalence is pinned by test_cdc_chunking_full_python_replay and
    # the plan shape by test_cdc_codes_built_once_below_barrier.
    # At-scale memory note (r13, ADVICE): the codes array materializes
    # one int per character NEXT TO the text column through the barrier
    # scan — roughly 5-9x per-row amplification for large documents, on
    # top of the text-rides-the-explode note below. The projection DOES
    # prune codes right after `ends` is built (only ends + text cross the
    # explode), so the amplification is transient per task; for huge-row
    # corpora the swap is recomputing codes per partition slice (or the
    # maxBytesPerBatch-bounded Arrow variant) rather than widening the row.
    coded = (
        fan_out(docs.select("doc_id", "source", "text"), key="doc_id")
        .select(
            "doc_id",
            "source",
            "text",
            F.length("text").cast("long").alias("len"),
            F.expr("transform(split(text, ''), c -> ascii(c))").alias(
                "codes"
            ),
        )
        .select("*", F.explode(F.array(F.lit(1))).alias("__barrier"))
        .drop("__barrier")
    )
    fold = " + ".join(
        f"CAST(codes[CAST(i AS INT) - {_CDC_WINDOW - j}] AS BIGINT)"
        f" * {31 ** (_CDC_WINDOW - 1 - j)}"
        for j in range(_CDC_WINDOW)
    )
    ends = coded.select(
        "doc_id",
        "source",
        "text",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.when(
                        F.col("len") >= _CDC_WINDOW,
                        F.expr(
                            f"filter(sequence(CAST({_CDC_WINDOW} AS BIGINT),"
                            f" len),"
                            f" i -> (({fold}) % 1000000007)"
                            f" % {_CDC_MASK} = 0)"
                        ),
                    ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)")),
                    F.array(F.col("len")),
                )
            )
        ).alias("e"),
    )
    w = Window.partitionBy("doc_id").orderBy("e")
    spans = ends.select(
        "source",
        "text",
        "e",
        F.coalesce(F.lag("e").over(w), F.lit(0).cast("long")).alias("s"),
    )
    chunks = spans.select(
        "source",
        F.md5(
            F.expr("substring(text, CAST(s AS INT) + 1, CAST(e - s AS INT))")
        ).alias("fp"),
        (F.col("e") - F.col("s")).alias("clen"),
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.countDistinct("fp").cast("long").alias("n_distinct_chunks"),
            F.sum("clen").cast("long").alias("tot_len"),
        )
        .select(
            "source",
            "n_chunks",
            "n_distinct_chunks",
            _idiv_col(
                F.lit(1000) * (F.col("n_chunks") - F.col("n_distinct_chunks")),
                F.col("n_chunks"),
            ).alias("dup_chunk_permille"),
            _idiv_col(F.lit(1000) * F.col("tot_len"), F.col("n_chunks")).alias(
                "mean_chunk_len_milli"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- wave 38
# Hourly OHLC bars (the candlestick rollup every market-data /
# metrics pipeline materializes): per (event_type, hour), the open
# (first value by (ts, event_id)), high, low, close (last), and count.
# Open/close are exact order statistics via two ROW_NUMBER windows with
# a total (ts, event_id) tie-break — no packed-key MIN_BY tricks, no
# floats (values in the rollup-restatement milli fixed-point).


@query(
    "window_ohlc_hourly",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour,
             epoch_us(ts) AS tus, event_id,
             CAST(ROUND(value * 1000, 0) AS BIGINT) AS v
      FROM events
    ),
    ranked AS (
      SELECT event_type, hour, v,
             ROW_NUMBER() OVER (PARTITION BY event_type, hour
                                ORDER BY tus, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, hour
                                ORDER BY tus DESC, event_id DESC) AS rn_d
      FROM base
    )
    SELECT event_type, hour,
           CAST(MAX(CASE WHEN rn_a = 1 THEN v END) AS BIGINT) AS open_milli,
           CAST(MAX(v) AS BIGINT) AS high_milli,
           CAST(MIN(v) AS BIGINT) AS low_milli,
           CAST(MAX(CASE WHEN rn_d = 1 THEN v END) AS BIGINT) AS close_milli,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ranked GROUP BY event_type, hour
    ORDER BY event_type, hour
    """,
    tags=("streaming", "events", "window"),
)
def window_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event type over the value stream. Plan:
    one keyed window pass for the open/close ranks (same partition keys
    as the final aggregate, so the exchange is reused), one hash
    aggregate — the shape a streaming sink would maintain
    incrementally (high/low/count merge; open/close carry their
    (ts, event_id) key)."""
    ev = load_tables(spark, sf_dir, "events").events.select(
        "event_type",
        F.expr("CAST(unix_micros(ts) div 3600000000 AS BIGINT)").alias("hour"),
        F.unix_micros("ts").alias("tus"),
        "event_id",
        F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("v"),
    )
    wa = Window.partitionBy("event_type", "hour").orderBy("tus", "event_id")
    wd = Window.partitionBy("event_type", "hour").orderBy(
        F.desc("tus"), F.desc("event_id")
    )
    ranked = ev.select(
        "event_type",
        "hour",
        "v",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        ranked.groupBy("event_type", "hour")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("v")))
            .cast("long")
            .alias("open_milli"),
            F.max("v").cast("long").alias("high_milli"),
            F.min("v").cast("long").alias("low_milli"),
            F.max(F.when(F.col("rn_d") == 1, F.col("v")))
            .cast("long")
            .alias("close_milli"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("event_type", "hour")
    )


# ---------------------------------------------------------------- wave 39
# Time-weighted average value (TWAP — the standard fix for irregular
# sampling: a value that persists 10 hours must weigh 10× one that
# persisted a minute; arithmetic means over event rows are wrong the
# moment arrival is bursty). Piecewise-constant integral between
# consecutive events: Σ v_i·(t_{i+1}-t_i) / (t_last - t_first), all
# exact integers (milli values × microsecond gaps; the numerator is
# bounded by max_v·span, not by the row count, so BIGINT holds at any
# event volume).


@query(
    "events_twap_by_type",
    oracle="""
    WITH seq AS (
      SELECT event_type, epoch_us(ts) AS tus, event_id,
             CAST(ROUND(value * 1000, 0) AS BIGINT) AS v
      FROM events
    ),
    gaps AS (
      SELECT event_type, v,
             LEAD(tus) OVER (PARTITION BY event_type
                             ORDER BY tus, event_id) - tus AS dt
      FROM seq
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(dt) AS BIGINT) AS span_us,
           CAST(SUM(v * dt) // SUM(dt) AS BIGINT) AS twap_milli,
           CAST(SUM(v) // COUNT(*) AS BIGINT) AS naive_mean_milli
    FROM gaps WHERE dt IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "events", "window"),
)
def events_twap_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (milli — micro would
    overflow the segment-weighted numerator's BIGINT headroom), beside the
    naive row mean it corrects — the gap between the two measures how
    bursty the arrivals are. One keyed LEAD window, one aggregate,
    exact integers end-to-end (segment-weighted sum bounded by
    max_value·time_span, volume-independent)."""
    ev = load_tables(spark, sf_dir, "events").events.select(
        "event_type",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("v"),
    )
    w = Window.partitionBy("event_type").orderBy("tus", "event_id")
    gaps = ev.select(
        "event_type",
        "v",
        (F.lead("tus").over(w) - F.col("tus")).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum("dt").cast("long").alias("span_us"),
            _idiv_col(
                F.sum(F.col("v") * F.col("dt")), F.sum("dt")
            ).alias("twap_milli"),
            _idiv_col(F.sum("v"), F.count(F.lit(1))).alias(
                "naive_mean_milli"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- wave 40
# Order-0 character entropy per document (Shannon 1948) — the
# compressibility proxy quality filters use to catch base64 blobs,
# repeated-char padding and binary-ish garbage (low entropy = highly
# compressible = suspicious; CCNet and Gopher both carry an
# entropy-adjacent screen). The identity H = ln n − (1/n)·Σ c·ln c
# needs one fewer division than the Σ p·ln p form: per-class c·ln c
# terms are micro-rounded (order-free integer sum), and the only other
# roundings are ln n and the final integer floor division.


@query(
    "text_char_entropy",
    oracle="""
    WITH cc AS (
      SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k FROM (
        SELECT doc_id, unnest(string_split(text, '')) AS c
        FROM documents WHERE length(text) > 0
      ) GROUP BY doc_id, c
    )
    SELECT doc_id,
           CAST(SUM(k) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           CAST(CAST(ROUND(ln(CAST(SUM(k) AS DOUBLE)) * 1000000) AS BIGINT)
                - SUM(CAST(ROUND(k * ln(CAST(k AS DOUBLE)) * 1000000)
                      AS BIGINT)) // SUM(k) AS BIGINT) AS entropy_micro
    FROM cc GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc order-0 char entropy (micro-nats) with char count and
    alphabet size: the compressibility screen. Plan: one char explode
    into a (doc, char) aggregate (alphabet-bounded per doc), one
    doc-keyed rollup; entropy via the single-division identity, terms
    micro-rounded before the order-free sum."""
    docs = load_tables(spark, sf_dir, "documents").documents.filter(
        F.length("text") > 0
    )
    cc = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    return (
        cc.groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_chars"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
            (
                F.round(F.log(F.sum("k").cast("double")) * 1_000_000).cast(
                    "long"
                )
                - _idiv_col(
                    F.sum(
                        F.round(
                            F.col("k") * F.log(F.col("k").cast("double")) * 1_000_000
                        ).cast("long")
                    ),
                    F.sum("k"),
                )
            )
            .cast("long")
            .alias("entropy_micro"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- wave 41
# Differential-privacy budget plan (Dwork, McSherry, Nissim & Smith,
# TCC 2006): for the k-anonymity audit's quasi-identifier cells
# (nation × market segment — single-sourced with privacy_k_anonymity
# so the two governance tables can never disagree about a cell), the
# Laplace-mechanism calibration table a release pipeline materializes
# BEFORE adding noise: per cell and per ε in the standard grid, the
# scale b = Δf/ε (count queries, Δf = 1), the expected absolute noise
# E|Lap(b)| = b, and the expected relative error against the true cell
# count. Everything is exact integers — the ε grid is a python-literal
# micro table, so b_micro = 10¹²/ε_micro is integer arithmetic and no
# float exists anywhere (a DP PLAN is deterministic; only the noise
# draw itself, out of scope here, is random).

#: ε grid in micro units (0.1, 0.5, 1.0) and the exact Laplace scale
#: b = 1/ε in micro units for sensitivity-1 count queries.
_DP_EPS = ((100_000, 10_000_000), (500_000, 2_000_000), (1_000_000, 1_000_000))


@query(
    "privacy_dp_budget_plan",
    oracle=f"""
    WITH cells AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS class_size
      FROM customer GROUP BY 1, 2
    ),
    eps(eps_micro, b_micro) AS (
      VALUES {", ".join(f"(CAST({e} AS BIGINT), CAST({b} AS BIGINT))" for e, b in _DP_EPS)}
    )
    SELECT c.nation, c.segment, c.class_size,
           CAST(e.eps_micro AS BIGINT) AS eps_micro,
           CAST(e.b_micro AS BIGINT) AS noise_scale_micro,
           CAST(CAST(1000 AS BIGINT) * e.b_micro
                // (c.class_size * 1000000) AS BIGINT)
             AS rel_err_permille,
           CAST(c.class_size >= 5 AS BIGINT) AS k_anonymous
    FROM cells c CROSS JOIN eps e
    ORDER BY c.nation, c.segment, e.eps_micro
    """,
    tags=("relational", "privacy"),
)
def privacy_dp_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism calibration per quasi-identifier cell and ε:
    noise scale, expected relative error (permille of the true count),
    and the k-anonymity flag — the deterministic planning table for a
    DP release of the cell histogram. Pure integer arithmetic (the ε
    grid and 1/ε scales are import-time literals). Plan: one cell
    aggregate crossed with a 3-row broadcast grid."""
    cust = load_tables(spark, sf_dir, "customer").customer
    cells = cust.groupBy(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(F.count(F.lit(1)).cast("long").alias("class_size"))
    eps = F.broadcast(
        spark.createDataFrame(list(_DP_EPS), "eps_micro long, b_micro long")
    )
    return (
        cells.crossJoin(eps)
        .select(
            "nation",
            "segment",
            "class_size",
            "eps_micro",
            F.col("b_micro").alias("noise_scale_micro"),
            _idiv_col(
                F.lit(1000) * F.col("b_micro"),
                F.col("class_size") * 1_000_000,
            ).alias("rel_err_permille"),
            (F.col("class_size") >= 5).cast("long").alias("k_anonymous"),
        )
        .orderBy("nation", "segment", "eps_micro")
    )


# ---------------------------------------------------------------- wave 42
# Degree assortativity of the near-dup graph (Newman, "Assortative
# mixing in networks", PRL 2002): the Pearson correlation of endpoint
# degrees over edges — positive means duplicates of hubs link to other
# hubs (crawler boilerplate clusters), negative means star-shaped
# template families. Over the symmetric directed edge list with
# j = deg(u), k = deg(v):
#     r = (2M·Σjk - (Σj)²) / (2M·Σj² - (Σj)²)
# — every sum an exact integer (degrees are small; the quotient is the
# single milli-rounded float). Same J >= 1/2 exact pair list as
# dedup_clusters, single-sourced.


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {DUCK_SHINGLE_SETS},
    pairs AS (
      {NEAR_DUP_PAIRS}
    ),
    e AS ({UNDIRECTED_EDGES}),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY u),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m2,
             CAST(SUM(du.d) AS BIGINT) AS sj,
             CAST(SUM(du.d * dv.d) AS BIGINT) AS sjk,
             CAST(SUM(du.d * du.d) AS BIGINT) AS sjj
      FROM e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           CAST(m2 // 2 AS BIGINT) AS n_edges,
           CAST(CASE WHEN m2 * sjj - sj * sj = 0 THEN 0
                ELSE ROUND(1000.0 * (m2 * sjk - sj * sj)
                           / (m2 * sjj - sj * sj)) END AS BIGINT)
             AS assortativity_milli
    FROM s
    """,
    tags=("llm", "dedup", "graph"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the near-dup graph (milli), with
    node and edge counts. Plan: the pair list is the production LSH
    join; degrees and the three moment sums are two keyed aggregates
    over the edge relation — all graph-sized."""
    from ..operators import dedup as D

    docs = load_tables(spark, sf_dir, "documents").documents
    # r12: the pair list is referenced 6+ times below (×2 union, two deg
    # joins, n_nodes) and the LSH verify chain was re-run for the copies
    # exchange reuse could not cover — one eager checkpoint makes the
    # build single-evaluation (measured −72% on this query; guide §3.3).
    pairs = (
        D.minhash_lsh_dedup(docs, threshold=0.5)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    e = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    j = e.join(deg, "u").select("v", F.col("d").alias("du"))
    jk = j.join(deg.withColumnRenamed("u", "v"), "v").select(
        "du", F.col("d").alias("dv")
    )
    s = jk.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum("du").cast("long").alias("sj"),
        F.sum(F.col("du") * F.col("dv")).cast("long").alias("sjk"),
        F.sum(F.col("du") * F.col("du")).cast("long").alias("sjj"),
    )
    den = F.col("m2") * F.col("sjj") - F.col("sj") * F.col("sj")
    return s.crossJoin(F.broadcast(n_nodes)).select(
        "n_nodes",
        _idiv_col(F.col("m2"), F.lit(2)).alias("n_edges"),
        F.when(den == 0, F.lit(0))
        .otherwise(
            F.round(
                F.lit(1000.0)
                * (F.col("m2") * F.col("sjk") - F.col("sj") * F.col("sj"))
                / den
            )
        )
        .cast("long")
        .alias("assortativity_milli"),
    )


# ---------------------------------------------------------------- wave 43
# Modularity of the near-dup partition (Newman & Girvan, "Finding and
# evaluating community structure in networks", PRE 2004): for the
# connected-component partition the dedup pipeline actually uses,
#     Q = Σ_c [ m_c/m − (d_c/2m)² ] = Σ_c (4m·m_c − d_c²) / 4m²
# — with components every edge is intra (Σm_c = m), so Q measures how
# BALANCED the duplicate families are (one giant boilerplate component
# drives Q → 0; many small families → Q → 1). Numerator sums are exact
# integers; the final division is the one micro-rounded float. Cluster
# labels single-sourced with dedup_clusters (operators/graph.py).


@query(
    "graph_neardup_modularity",
    oracle=f"""
    WITH RECURSIVE {DUCK_SHINGLE_SETS},
    pairs AS (
      {NEAR_DUP_PAIRS}
    ),
    e AS ({UNDIRECTED_EDGES}),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY u),
    {DUCK_CC_LABELS},
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
    mc AS (
      SELECT l.cluster, CAST(COUNT(*) AS BIGINT) AS m_c
      FROM pairs p JOIN lbls l ON l.node = p.doc_a GROUP BY l.cluster
    ),
    dc AS (
      SELECT l.cluster, CAST(SUM(deg.d) AS BIGINT) AS d_c
      FROM deg JOIN lbls l ON l.node = deg.u GROUP BY l.cluster
    ),
    parts AS (
      SELECT mc.cluster, mc.m_c, dc.d_c
      FROM mc JOIN dc ON dc.cluster = mc.cluster
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM parts) AS n_components,
           (SELECT m FROM m) AS n_edges,
           CAST(SUM(4 * (SELECT m FROM m) * m_c - d_c * d_c) AS BIGINT)
             AS q_numerator,
           CAST(ROUND(1000000.0
                * SUM(4 * (SELECT m FROM m) * m_c - d_c * d_c)
                / (4.0 * (SELECT m FROM m) * (SELECT m FROM m)))
                AS BIGINT) AS modularity_micro
    FROM parts
    """,
    tags=("llm", "dedup", "graph"),
)
def graph_neardup_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity (micro) of the connected-component
    partition of the near-dup graph, with the exact integer numerator
    Σ(4m·m_c − d_c²) exposed so the one float is auditable. Plan: pairs
    from the production LSH join, components from the shipped hash-min
    CC operator, then everything lives on the component dimension."""
    from ..operators import dedup as D
    from ..operators import graph as G

    docs = load_tables(spark, sf_dir, "documents").documents
    pairs = D.minhash_lsh_dedup(docs, threshold=0.5).select(
        "doc_a", "doc_b"
    ).cache()
    try:
        e = pairs.select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        ).unionByName(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
        lbls = (
            G.dedup_clusters(docs, pairs)
            .withColumnRenamed("doc_id", "node")
            .withColumnRenamed("cluster_id", "cluster")
            .join(deg.withColumnRenamed("u", "node"), "node")
        )
        m_row = pairs.agg(F.count(F.lit(1)).cast("long").alias("m"))
        mc = (
            pairs.join(
                lbls.select("node", "cluster").withColumnRenamed(
                    "node", "doc_a"
                ),
                "doc_a",
            )
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("long").alias("m_c"))
        )
        dc = lbls.groupBy("cluster").agg(
            F.sum("d").cast("long").alias("d_c")
        )
        parts = mc.join(dc, "cluster").crossJoin(F.broadcast(m_row))
        out = parts.agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.max("m").cast("long").alias("n_edges"),
            F.sum(
                4 * F.col("m") * F.col("m_c") - F.col("d_c") * F.col("d_c")
            )
            .cast("long")
            .alias("q_numerator"),
            F.round(
                F.lit(1_000_000.0)
                * F.sum(
                    4 * F.col("m") * F.col("m_c")
                    - F.col("d_c") * F.col("d_c")
                )
                / (4.0 * F.max("m") * F.max("m"))
            )
            .cast("long")
            .alias("modularity_micro"),
        )
        out = out.localCheckpoint(eager=True)
    finally:
        pairs.unpersist()
    return out


# ---------------------------------------------------------------- wave 44
# Embedding anisotropy audit (Ethayarajh, "How Contextual are
# Contextualized Word Representations?", EMNLP 2019; Mu & Viswanath,
# "All-but-the-Top", ICLR 2018): the expected cosine between two
# RANDOM vectors — isotropic spaces give ~0, collapsed ("cone-shaped")
# embedding spaces give large positive values that wreck cosine
# retrieval. The audit is exact and O(n·d), never pairwise:
#     Σ_{a≠b} û_a·û_b = |Σ û|² − Σ|û|²
# over unit vectors û milli-rounded per component (the DEFINITION is
# over the rounded unit vectors, so every engine sums identical
# integers; milli keeps |Σ û|² within BIGINT at any corpus size that
# fits a cluster). Also reports the dominant dimension of the mean
# vector and its energy share — the "all-but-the-top" common-direction
# diagnostic.


@query(
    "embedding_anisotropy_audit",
    oracle="""
    WITH u AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(1000 * x / sqrt(list_reduce(
                      list_prepend(CAST(0 AS DOUBLE),
                        list_transform(embedding,
                          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
                      (a, b) -> a + b))) AS BIGINT)) AS um
      FROM embeddings
    ),
    comp AS (
      SELECT j, CAST(uv AS BIGINT) AS uv FROM (
        SELECT generate_subscripts(um, 1) AS j,
               unnest(um) AS uv
        FROM u
      )
    ),
    dims AS (
      SELECT j, CAST(SUM(uv) AS BIGINT) AS s,
             CAST(SUM(uv * uv) AS BIGINT) AS ssq
      FROM comp GROUP BY j
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM u),
    tot AS (
      SELECT CAST(SUM(s * s) AS BIGINT) AS s2,
             CAST(SUM(ssq) AS BIGINT) AS ssq
      FROM dims
    ),
    top AS (
      SELECT j AS top_dim, s * s AS top_e FROM dims
      ORDER BY s * s DESC, j LIMIT 1
    )
    SELECT n.nv AS n_vectors,
           CAST((tot.s2 - tot.ssq) // (n.nv * (n.nv - 1)) AS BIGINT)
             AS anisotropy_micro,
           CAST(top.top_dim AS BIGINT) AS top_dim,
           CAST(CASE WHEN tot.s2 = 0 THEN 0
                ELSE 1000 * top.top_e // tot.s2 END AS BIGINT)
             AS top_dim_share_permille
    FROM n CROSS JOIN tot CROSS JOIN top
    """,
    tags=("llm", "embedding", "eval"),
)
def embedding_anisotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected random-pair cosine of the embedding space (micro; large
    positive = anisotropic cone), plus the mean vector's dominant
    dimension and its energy share (permille). Exact integers after the
    per-component milli rounding of unit vectors; one pass, O(n·d) —
    the pairwise sum is recovered from |Σû|² − Σ|û|², so the audit
    never materializes a pair. Plan: one vector projection, one
    d-row dimension aggregate (1-based dim index, both engines). The
    anisotropy quotient can be negative; both engines divide with
    truncation toward zero (the house _idiv semantics on signed
    numerators)."""
    from ..operators.similarity import dot

    emb = load_tables(spark, sf_dir, "embeddings").embeddings
    nrm = F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    u = emb.select(
        F.transform(
            "embedding",
            lambda x: F.round(1000 * x.cast("double") / nrm).cast("long"),
        ).alias("um")
    )
    comp = u.select(F.posexplode("um").alias("j0", "uv")).select(
        (F.col("j0") + 1).alias("j"), "uv"
    )
    # every dimension row also carries the vector count (each vector
    # contributes exactly one uv per dim), so n, the moment totals AND
    # the dominant-dim argmax all fold into ONE aggregate chain — the
    # embedding table is scanned exactly once (plan-pinned).
    dims = comp.groupBy("j").agg(
        F.sum("uv").cast("long").alias("s"),
        F.sum(F.col("uv") * F.col("uv")).cast("long").alias("ssq"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    tot = dims.agg(
        F.sum(F.col("s") * F.col("s")).cast("long").alias("s2"),
        F.sum("ssq").cast("long").alias("ssq"),
        F.max("cnt").cast("long").alias("nv"),
        F.max(
            F.struct(
                (F.col("s") * F.col("s")).alias("e"),
                (-F.col("j")).alias("nj"),
            )
        ).alias("mx"),
    )
    return tot.select(
        F.col("nv").alias("n_vectors"),
        _idiv_col(
            F.col("s2") - F.col("ssq"),
            F.col("nv") * (F.col("nv") - 1),
        ).alias("anisotropy_micro"),
        (-F.col("mx.nj")).cast("long").alias("top_dim"),
        F.when(F.col("s2") == 0, F.lit(0))
        .otherwise(_idiv_col(F.lit(1000) * F.col("mx.e"), F.col("s2")))
        .cast("long")
        .alias("top_dim_share_permille"),
    )


# ---------------------------------------------------------------- wave 45
# Power-law tail fit of user activity (Clauset, Shalizi & Newman,
# "Power-law distributions in empirical data", SIAM Review 2009): the
# discrete MLE α = 1 + n / Σ ln(x_i / x_min) over users with at least
# x_min events — the heavy-tail screen that decides whether per-user
# capping/salting is needed (α < 2 means the heaviest user dominates
# totals at scale). Per-user micro-rounded ln terms (order-free sum),
# one exact integer division.

_PL_XMIN = 5


@query(
    "events_user_powerlaw_mle",
    oracle=f"""
    WITH ua AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY user_id
    ),
    tail AS (
      SELECT x,
             CAST(ROUND(ln(CAST(x AS DOUBLE) / {_PL_XMIN}) * 1000000)
                  AS BIGINT) AS term
      FROM ua WHERE x >= {_PL_XMIN}
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ua) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_tail,
           CAST({_PL_XMIN} AS BIGINT) AS x_min,
           CAST(CASE WHEN SUM(term) <= 0 THEN -1
                ELSE 1000000 + CAST(1000000000000 AS HUGEINT) * COUNT(*)
                     // SUM(term)
                END AS BIGINT) AS alpha_micro
    FROM tail
    """,
    tags=("streaming", "events", "stats"),
)
def events_user_powerlaw_mle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete power-law MLE α (micro) for the per-user event-count
    tail (x ≥ 5): the skew diagnostic behind the registry's salting and
    capping choices. One user-keyed count, one tail rollup; the ln
    terms are micro-rounded per user before the order-free sum; -1
    flags a degenerate all-at-x_min tail."""
    ev = load_tables(spark, sf_dir, "events").events
    ua = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("x"))
    n_users = ua.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    tail = ua.filter(F.col("x") >= _PL_XMIN).select(
        F.round(
            F.log(F.col("x").cast("double") / _PL_XMIN) * 1_000_000
        )
        .cast("long")
        .alias("term")
    )
    agg = tail.agg(
        F.count(F.lit(1)).cast("long").alias("n_tail"),
        F.sum("term").cast("long").alias("sterm"),
    )
    return agg.crossJoin(F.broadcast(n_users)).select(
        "n_users",
        "n_tail",
        F.lit(_PL_XMIN).cast("long").alias("x_min"),
        # 1e12 scaling inside _idiv_col's decimal space (r9 ADVICE: the
        # old BIGINT pre-multiply 1e12·n_tail wrapped past ~9.2M tail
        # users while the HUGEINT oracle errored — engines diverged).
        F.when(F.col("sterm") <= 0, F.lit(-1))
        .otherwise(
            F.lit(1_000_000)
            + _idiv_col(
                F.col("n_tail"), F.col("sterm"), scale=1_000_000_000_000
            )
        )
        .cast("long")
        .alias("alpha_micro"),
    )


# ---------------------------------------------------------------- wave 46
# Multiset symmetric difference — completes the set-op family (distinct
# INTERSECT/EXCEPT/UNION + multiset INTERSECT ALL/EXCEPT ALL already
# registered): rows whose per-value multiplicities differ between the
# customer and supplier nation multisets, duplicates preserved —
# (A ∖ B) ⊎ (B ∖ A) under bag semantics.


@query(
    "set_symmetric_diff_multiset",
    oracle="""
    SELECT nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT ALL
      SELECT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT nationkey FROM (
      SELECT s_nationkey AS nationkey FROM supplier
      EXCEPT ALL
      SELECT c_nationkey FROM customer
    )
    ORDER BY nationkey
    """,
    tags=("relational", "setop"),
)
def set_symmetric_diff_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics symmetric difference of the customer/supplier
    nation multisets: |count_A(v) − count_B(v)| copies of each value —
    exceptAll both ways, unioned. Catalyst rewrites each exceptAll to
    one count-aggregate + generator (no pairwise anything)."""
    t = load_tables(spark, sf_dir, "customer", "supplier")
    c = t.customer.select(F.col("c_nationkey").alias("nationkey"))
    s = t.supplier.select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s).unionAll(s.exceptAll(c)).orderBy("nationkey")


# ---------------------------------------------------------------- wave 47
# Per-user day-activity bitmap (the bitmap-index / roaring technique
# behind retention systems — Chambi et al., "Better bitmap performance
# with Roaring bitmaps", SPE 2016, here in its single-word form): one
# BIGINT carries a user's active days as bits offset from the corpus'
# first day. Popcount gives active days; the LONGEST consecutive run
# falls out of the classic bit-smearing identity — iterate
# m ← m & (m<<1); the number of iterations before m reaches 0 is the
# longest run of 1s — unrolled to the word width as plain integer
# expressions on both engines. The pin proves this bit algorithm
# EQUALS the gaps-and-islands answer (events_longest_daily_streak) on
# every user — same semantic, two disjoint algorithms.

#: bitmap capacity: day offsets beyond this are dropped (fixture spans
#: 30 days; a production system shards masks per 62-day epoch).
_BM_BITS = 62
_BM_MAX_RUN = 31


def _build_bitmask_oracle() -> str:
    steps = []
    for k in range(1, _BM_MAX_RUN + 1):
        steps.append(f"""
    s{k} AS (
      SELECT user_id, day_mask, n_active_days,
             m & (m * 2) AS m,
             streak + (CASE WHEN m <> 0 THEN 1 ELSE 0 END) AS streak
      FROM s{k - 1}
    )""")
    return f"""
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS DATE)
                  - (SELECT MIN(CAST(ts AS DATE)) FROM events) AS BIGINT)
               AS off
      FROM events
    ),
    masks AS (
      SELECT user_id,
             CAST(SUM(CAST(1 AS BIGINT) << off) AS BIGINT) AS day_mask,
             CAST(COUNT(*) AS BIGINT) AS n_active_days
      FROM d WHERE off < {_BM_BITS} GROUP BY user_id
    ),
    s0 AS (
      SELECT user_id, day_mask, n_active_days, day_mask AS m,
             CAST(0 AS BIGINT) AS streak
      FROM masks
    ),
    {",".join(steps)}
    SELECT user_id, day_mask, n_active_days,
           CAST(streak AS BIGINT) AS longest_streak_days
    FROM s{_BM_MAX_RUN} ORDER BY user_id
    """


@query(
    "events_user_day_bitmask",
    oracle=_build_bitmask_oracle(),
    tags=("events", "profile"),
)
def events_user_day_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-word day-activity bitmap per user: the mask itself,
    popcount (active days), and the longest consecutive-day streak via
    the m & (m<<1) smearing identity — integer bit arithmetic only, no
    windows after the mask aggregate. Distinct (user, day) offsets sum
    disjoint powers of two, so SUM == BIT_OR (engine-portable without a
    bitwise aggregate). The streak answer is pinned equal to the
    gaps-and-islands formulation on every user."""
    ev = load_tables(spark, sf_dir, "events").events
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    d = (
        ev.crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.col("d0")).cast("long").alias("off"),
        )
        .filter(F.col("off") < _BM_BITS)
        .distinct()
    )
    masks = d.groupBy("user_id").agg(
        F.sum(F.expr("CAST(1 AS BIGINT) << CAST(off AS INT)"))
        .cast("long")
        .alias("day_mask"),
        F.count(F.lit(1)).cast("long").alias("n_active_days"),
    )
    cur = masks.select(
        "user_id",
        "day_mask",
        "n_active_days",
        F.col("day_mask").alias("m"),
        F.lit(0).cast("long").alias("streak"),
    )
    for _k in range(_BM_MAX_RUN):
        cur = cur.select(
            "user_id",
            "day_mask",
            "n_active_days",
            F.expr("m & (m * 2)").alias("m"),
            (
                F.col("streak")
                + F.when(F.col("m") != 0, 1).otherwise(0)
            ).alias("streak"),
        )
    return cur.select(
        "user_id",
        "day_mask",
        "n_active_days",
        F.col("streak").cast("long").alias("longest_streak_days"),
    ).orderBy("user_id")


# ---------------------------------------------------------------- wave 48
# Iterative masked outlier screen over daily volumes (Rosner's
# generalized ESD shape, Technometrics 1983, with a fixed 3.0 cutoff in
# place of the t-quantile ladder — no stats library in the stack, and
# the masking mechanics are the point): plain z-scores MISS outliers
# when two extremes inflate the std ("masking"); the fix is iterative —
# remove the most extreme day, RECOMPUTE mean/std without it, repeat.
# Three unrolled rounds; each round's mean/std come from exact integer
# (S, S²) sums over the remaining days, the max |x-μ|/σ day is an
# integer-tie-broken argmax, and the R statistic is the one
# milli-rounded float per round.

_ESD_ROUNDS = 3
_ESD_CUTOFF_MILLI = 3000


def _build_esd_oracle() -> str:
    parts = ["""
    daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    r0 AS (SELECT day, c FROM daily)"""]
    rows = []
    for k in range(1, _ESD_ROUNDS + 1):
        parts.append(f"""
    m{k} AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s,
             CAST(SUM(c * c) AS BIGINT) AS ss
      FROM r{k - 1}
    ),
    p{k} AS (
      SELECT r.day, r.c,
             CAST(ROUND(1000 * ABS(r.c - CAST(m.s AS DOUBLE) / m.n)
                  / SQRT((CAST(m.n AS DOUBLE) * m.ss - CAST(m.s AS DOUBLE) * m.s)
                         / (CAST(m.n AS DOUBLE) * (m.n - 1)))) AS BIGINT)
               AS r_milli
      FROM r{k - 1} r CROSS JOIN m{k} m
      ORDER BY r_milli DESC, r.day LIMIT 1
    ),
    r{k} AS (
      SELECT day, c FROM r{k - 1}
      WHERE day <> (SELECT day FROM p{k})
    )""")
        rows.append(
            f"SELECT CAST({k} AS BIGINT) AS round,"
            f" strftime(p{k}.day, '%Y-%m-%d') AS day, p{k}.c AS n_events,"
            f" p{k}.r_milli,"
            f" CAST(p{k}.r_milli > {_ESD_CUTOFF_MILLI} AS BIGINT) AS flagged"
            f" FROM p{k}"
        )
    return (
        "WITH " + ",".join(parts)
        + "\n    SELECT * FROM (" + " UNION ALL ".join(rows)
        + ") ORDER BY round"
    )


@query(
    "events_anomaly_masked_esd",
    oracle=_build_esd_oracle(),
    tags=("streaming", "events", "stats"),
)
def events_anomaly_masked_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of masking-robust outlier detection over daily
    event totals: each round reports the most extreme remaining day,
    its deviation R = |x−μ|/σ (milli, stats recomputed WITHOUT the
    previously removed days — the property plain z-scores lack), and
    the 3.0-cutoff flag. Everything lives on the ~30-row day dimension;
    round argmaxes are TakeOrdered(1) collects."""
    ev = load_tables(spark, sf_dir, "events").events
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    cur = daily
    out = []
    for k in range(1, _ESD_ROUNDS + 1):
        m = cur.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("s"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        )
        mean = F.col("s").cast("double") / F.col("n")
        var = (
            F.col("n").cast("double") * F.col("ss")
            - F.col("s").cast("double") * F.col("s")
        ) / (F.col("n").cast("double") * (F.col("n") - 1))
        pick = (
            cur.crossJoin(F.broadcast(m))
            .select(
                "day",
                "c",
                F.round(1000 * F.abs(F.col("c") - mean) / F.sqrt(var))
                .cast("long")
                .alias("r_milli"),
            )
            .orderBy(F.desc("r_milli"), "day")
            .limit(1)
            .collect()[0]
        )
        out.append(
            (
                k,
                pick["day"].strftime("%Y-%m-%d"),
                pick["c"],
                pick["r_milli"],
                1 if pick["r_milli"] > _ESD_CUTOFF_MILLI else 0,
            )
        )
        cur = cur.filter(
            F.col("day") != F.lit(pick["day"])
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        out, "round long, day string, n_events long, r_milli long, flagged long"
    )


# ---------------------------------------------------------------- wave 49
# ABC analysis (the Pareto/80-95 inventory classification every revenue
# dashboard ships): parts ranked by lineitem revenue; class A while the
# running share is <= 80% of total, B to 95%, C after. Exact integer
# cents end-to-end (class boundaries tested as 20·cum <= 16·tot and
# 20·cum <= 19·tot — no percentage floats; per-row explicit ROUND before
# the BIGINT cast, the rollup-restatement recipe), deterministic
# (revenue DESC, partkey) rank order.


@query(
    "orders_abc_analysis",
    oracle="""
    WITH rev AS (
      SELECT l_partkey AS partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100,
                                 0) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ),
    ranked AS (
      SELECT partkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, partkey
                              ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cents) OVER () AS tot
      FROM rev
    ),
    classed AS (
      SELECT CASE WHEN 20 * cum <= 16 * tot THEN 'A'
                  WHEN 20 * cum <= 19 * tot THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents
      FROM ranked
    )
    SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           CAST(1000 * SUM(cents) // (SELECT SUM(cents) FROM rev) AS BIGINT)
             AS revenue_share_permille
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
    tags=("relational", "agg"),
)
def orders_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC revenue classification of parts (A: first 80% of revenue in
    rank order, B: to 95%, C: the tail): per class, part count, exact
    revenue cents and share. One part-keyed aggregate, one running-sum
    window over the part dimension, integer class boundaries."""
    li = load_tables(spark, sf_dir, "lineitem").lineitem
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(
            F.expr(
                "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)"
                " AS BIGINT)"
            )
        )
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy(F.desc("cents"), "partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = rev.select(
        "cents",
        F.sum("cents").over(w).alias("cum"),
        F.sum("cents").over(Window.partitionBy()).alias("tot"),
    )
    classed = ranked.select(
        F.when(20 * F.col("cum") <= 16 * F.col("tot"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("tot"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
        "tot",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            _idiv_col(F.lit(1000) * F.sum("cents"), F.max("tot")).alias(
                "revenue_share_permille"
            ),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------- wave 50
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
                _idiv_col(F.lit(1_000_000_000) * F.col("c12"), F.col("c1")),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("pb"),
            _idiv_col(
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
                _idiv_col(F.sum(_idiv_col(num, den)), F.count(F.lit(1))).alias(
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


# ---------------------------------------------------------------- wave 51
# One-sample Kolmogorov-Smirnov uniformity test of event ARRIVAL TIMES
# per type (Kolmogorov 1933; the monitoring question is "did events
# arrive steadily over the window, or in bursts/drains?" — the
# one-sample companion to the two-sample KS of wave 20). Against the
# U[t_first, t_last] null, the supremum needs only the sample's own
# jump points, and with u_i = (t_i - t0)/(T - t0) every comparison
# clears denominators into integers:
#     D·n·(T-t0) = max_i max( i·(T-t0) − n·(t_i−t0),
#                             n·(t_i−t0) − (i−1)·(T-t0) )
# — exact numerators carried in DECIMAL(38,0)/HUGEINT (n·span_us is
# ~5e16 at sf0.1 already, and the 1000× milli scaling would wrap BIGINT
# whenever D > ~0.17 — the r9 ADVICE catch), one final exact scaled
# division for D, and z = √n·D as the single milli-rounded float.


@query(
    "events_arrival_uniformity_ks",
    oracle="""
    WITH seq AS (
      SELECT event_type, epoch_us(ts) AS tus,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id) AS BIGINT) AS i,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             MIN(epoch_us(ts)) OVER (PARTITION BY event_type) AS t0,
             MAX(epoch_us(ts)) OVER (PARTITION BY event_type) AS t1
      FROM events
    ),
    per AS (
      SELECT event_type, n, t1 - t0 AS span_us,
             MAX(GREATEST(
               CAST(i AS HUGEINT) * (t1 - t0) - CAST(n AS HUGEINT) * (tus - t0),
               CAST(n AS HUGEINT) * (tus - t0) - CAST(i - 1 AS HUGEINT) * (t1 - t0)
             )) AS d_num
      FROM seq GROUP BY event_type, n, t1 - t0
    )
    SELECT event_type, n, span_us,
           CAST(1000 * d_num // (CAST(n AS HUGEINT) * span_us) AS BIGINT)
             AS d_milli,
           CAST(ROUND(SQRT(CAST(n AS DOUBLE)) * CAST(d_num AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * span_us AS DOUBLE)
                      * 1000) AS BIGINT) AS z_milli
    FROM per ORDER BY event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_arrival_uniformity_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample KS statistic of arrival-time uniformity per event
    type: D (milli) from exact-integer ECDF extremes against the
    uniform null over [first, last] arrival, and z = √n·D (milli, the
    one float). Large D = bursty or draining ingest. One keyed rank
    window over the same sort, then a keyed integer max."""
    ev = load_tables(spark, sf_dir, "events").events
    wp = Window.partitionBy("event_type")
    w = wp.orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.unix_micros("ts").alias("tus"),
        F.row_number().over(w).cast("long").alias("i"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
        F.min(F.unix_micros("ts")).over(wp).alias("t0"),
        F.max(F.unix_micros("ts")).over(wp).alias("t1"),
    )
    # Numerators in DECIMAL(38,0)/HUGEINT end-to-end (r9 ADVICE): i·span
    # and n·rel are bounded only by n·span_us (~5.3e16 at sf0.1, past
    # 2^63 at ~170× that), and the 1000× fixed-point scaling of d_num
    # pushed the old BIGINT form over the edge at D > ~0.17 — Spark
    # (ANSI off) wrapped silently while DuckDB errored. Decimal max is
    # exact; d_num stays decimal until the one double (z) and the exact
    # scaled division (d_milli, scale inside _idiv_col's decimal space).
    span = (F.col("t1") - F.col("t0")).cast("decimal(38,0)")
    rel = (F.col("tus") - F.col("t0")).cast("decimal(38,0)")
    i_d = F.col("i").cast("decimal(38,0)")
    n_d = F.col("n").cast("decimal(38,0)")
    span_l = F.col("t1") - F.col("t0")
    d_plus = i_d * span - n_d * rel
    d_minus = n_d * rel - (i_d - F.lit(1)) * span
    per = seq.groupBy(
        "event_type", "n", span_l.alias("span_us")
    ).agg(F.max(F.greatest(d_plus, d_minus)).alias("d_num"))
    denom = F.col("n").cast("decimal(38,0)") * F.col("span_us").cast(
        "decimal(38,0)"
    )
    return per.select(
        "event_type",
        "n",
        "span_us",
        _idiv_col(F.col("d_num"), denom, scale=1000).alias("d_milli"),
        F.round(
            F.sqrt(F.col("n").cast("double"))
            * F.col("d_num").cast("double")
            / denom.cast("double")
            * 1000
        )
        .cast("long")
        .alias("z_milli"),
    ).orderBy("event_type")
