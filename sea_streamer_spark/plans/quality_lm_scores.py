"""Language-model quality scores: character LMs, perplexity buckets,
Kneser-Ney bigrams and the selection trade-off they drive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality import char_lm_score
from ..sources.tables import load_tables
from .registry import query


@query(
    "quality_char_lm",
    oracle="""
    WITH pos AS (
      SELECT doc_id, text, unnest(generate_series(1, length(text) - 1)) AS i
      FROM documents WHERE length(text) >= 2
    ), bg AS (
      SELECT doc_id, substr(text, i, 2) AS bigram FROM pos
    ), model AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_ab FROM bg GROUP BY bigram
    ), model2 AS (
      SELECT bigram, n_ab,
             SUM(n_ab) OVER (PARTITION BY substr(bigram, 1, 1)) AS n_a
      FROM model
    ), logp AS (
      SELECT bigram, ln(CAST(n_ab + 1 AS DOUBLE) / (n_a + 256)) AS lp FROM model2
    ), scored AS (
      SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CAST(ROUND(lp * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_logp_micro
      FROM bg JOIN logp USING (bigram) GROUP BY bg.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(s.sum_logp_micro, 0) AS BIGINT) AS sum_logp_micro
    FROM documents d LEFT JOIN scored s USING (doc_id)
    ORDER BY d.doc_id
    """,
    tags=("llm", "quality"),
)
def quality_char_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained Laplace char-bigram LM quality score
    (operators/quality.char_lm_score — one bigram explode feeds both the
    broadcastable model and the per-doc aggregates). The registered columns
    are the fixed-point order-independent pair (n_bigrams,
    sum_logp_micro); per-bigram log-probs are micro-rounded BEFORE the sum
    so the hash is immune to float summation order."""
    docs = load_tables(spark, sf_dir, "documents").documents
    return char_lm_score(docs).select(
        "doc_id", "n_bigrams", "sum_logp_micro"
    ).orderBy("doc_id")


#: Stupid Backoff discount (Brants et al. 2007 use 0.4 at every level).
_SB_ALPHA = 0.4


def _build_perplexity_oracle() -> str:
    """DuckDB replay of the full Stupid-Backoff pipeline: train counts on
    the even-doc_id half, score trigram positions of every doc, bucket by
    tercile. Arithmetic is kept operand-for-operand identical to the
    Spark side (CAST to DOUBLE before every divide, ln of the assembled
    score, micro-round per position, FLOOR of the mean for the tercile
    key)."""
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
    ),
    train_uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(t) AS w FROM toks WHERE doc_id % 2 = 0)
      GROUP BY w
    ),
    tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS v_size
      FROM train_uni
    ),
    train_bi AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2g FROM (
        SELECT t[i-1] AS w1, t[i] AS w2
        FROM (SELECT t, unnest(generate_series(2, len(t))) AS i
              FROM toks WHERE doc_id % 2 = 0)
      ) GROUP BY w1, w2
    ),
    train_tri AS (
      SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c3g FROM (
        SELECT t[i-2] AS w1, t[i-1] AS w2, t[i] AS w3
        FROM (SELECT t, unnest(generate_series(3, len(t))) AS i
              FROM toks WHERE doc_id % 2 = 0)
      ) GROUP BY w1, w2, w3
    ),
    pos3 AS (
      SELECT doc_id, t[i-2] AS w1, t[i-1] AS w2, t[i] AS w3
      FROM (SELECT doc_id, t, unnest(generate_series(3, len(t))) AS i
            FROM toks WHERE len(t) >= 3)
    ),
    scored_pos AS (
      SELECT p.doc_id,
        CASE
          WHEN tri.c3g IS NOT NULL
            THEN CAST(tri.c3g AS DOUBLE) / CAST(b12.c2g AS DOUBLE)
          WHEN b23.c2g IS NOT NULL
            THEN {_SB_ALPHA} * CAST(b23.c2g AS DOUBLE) / CAST(u2.c1 AS DOUBLE)
          ELSE {_SB_ALPHA} * {_SB_ALPHA}
               * CAST(COALESCE(u3.c1, 0) + 1 AS DOUBLE)
               / CAST(tot.n_total + tot.v_size AS DOUBLE)
        END AS s
      FROM pos3 p
      LEFT JOIN train_tri tri
        ON tri.w1 = p.w1 AND tri.w2 = p.w2 AND tri.w3 = p.w3
      LEFT JOIN train_bi b12 ON b12.w1 = p.w1 AND b12.w2 = p.w2
      LEFT JOIN train_bi b23 ON b23.w1 = p.w2 AND b23.w2 = p.w3
      LEFT JOIN train_uni u2 ON u2.w = p.w2
      LEFT JOIN train_uni u3 ON u3.w = p.w3
      CROSS JOIN tot
    ),
    doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
             CAST(SUM(CAST(ROUND(ln(s) * 1000000.0) AS BIGINT)) AS BIGINT)
               AS sum_logp_micro
      FROM scored_pos GROUP BY doc_id
    ),
    ranked AS (
      SELECT doc_id, n_scored, sum_logp_micro,
             NTILE(3) OVER (
               ORDER BY CAST(FLOOR(sum_logp_micro * 1.0 / n_scored) AS BIGINT)
                 DESC, doc_id
             ) AS nt
      FROM doc
    )
    SELECT doc_id, n_scored, sum_logp_micro,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS ppl_bucket
    FROM ranked ORDER BY doc_id
    """


@query(
    "quality_perplexity_buckets",
    oracle=_build_perplexity_oracle(),
    tags=("llm", "quality"),
)
def quality_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity quality filter (Wenzek et al.
    arXiv:1911.00359 §4.3): train a Stupid-Backoff trigram LM (Brants et
    al. EMNLP 2007 — S(w3|w1w2) = c123/c12, backing off through
    0.4·c23/c2 to a Laplace unigram floor 0.16·(c3+1)/(N+V)) on the
    clean half of the corpus (even doc_id — CCNet's Wikipedia proxy),
    score EVERY document's full-context trigram positions in fixed-point
    micro log-space, and bucket head/middle/tail by mean-score tercile —
    the gate that decides which third of a crawl is worth training on.

    Plan, 100 TB-first: the trainer IS three aggregations (uni/bi/tri
    count tables — map-side-partial combine, never a collect; the
    production path prunes low-count tails before the join, same shape).
    Scoring is a chain of keyed LEFT equi-joins from the position
    relation to the count tables — heavy-hitter context keys (stopwords)
    are exactly what AQE skew-join splits. Per-position log-probs are
    micro-rounded BEFORE the per-doc sum (order-independent, hash-stable
    under any partitioning). The tercile NTILE runs over the DOCUMENTS
    dimension only (one narrow row per doc, the customer_spend_quartiles
    posture), never over token positions; at production scale CCNet
    replaces it with fixed thresholds from a calibration sample — the
    bucket rule is one comparison either way."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..operators.dedup import positional_shingles
    from ..operators.text import tokens

    docs = load_tables(spark, sf_dir, "documents").documents
    train = docs.filter(F.col("doc_id") % 2 == 0)

    uni = (
        train.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    totals = uni.agg(
        F.sum("c1").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("v_size"),
    )

    # n-gram relations via the shingle-array build (zip_with folds over
    # shifted slices, operators/dedup._shingle_array) — NOT element_at
    # over an exploded position index, which Catalyst's project-collapse
    # re-inlines into a per-position re-tokenize (the O(k*n^2) trap the
    # _shingle_array docstring documents; measured as a sweep timeout on
    # the first draft of this query). Tokens contain no whitespace (the
    # \\s+ split guarantees it), so the space-joined gram string is an
    # injective key: joining on "w1 w2 w3" == joining on (w1, w2, w3).
    bi = (
        positional_shingles(train, k=2)
        .groupBy("sh")
        .agg(F.count(F.lit(1)).cast("long").alias("c2g"))
    )
    tri = (
        positional_shingles(train, k=3)
        .groupBy("sh")
        .agg(F.count(F.lit(1)).cast("long").alias("c3g"))
    )

    # One row per full-context trigram position of EVERY doc; the backoff
    # keys (prefix/suffix bigram, unigrams) are rebuilt by splitting the
    # gram string — an exact roundtrip of the zip_with space-join.
    pos3 = (
        positional_shingles(docs, k=3)
        .select("doc_id", F.split("sh", " ").alias("ws"), F.col("sh").alias("g3"))
        .select(
            "doc_id",
            "g3",
            F.array_join(F.slice("ws", 1, 2), " ").alias("g12"),
            F.array_join(F.slice("ws", 2, 2), " ").alias("g23"),
            F.element_at("ws", 2).alias("w2"),
            F.element_at("ws", 3).alias("w3"),
        )
    )
    j = (
        pos3.join(tri.withColumnRenamed("sh", "g3"), "g3", "left")
        .join(
            bi.select(F.col("sh").alias("g12"), F.col("c2g").alias("c12")),
            "g12",
            "left",
        )
        .join(
            bi.select(F.col("sh").alias("g23"), F.col("c2g").alias("c23")),
            "g23",
            "left",
        )
        .join(uni.select(F.col("w").alias("w2"), F.col("c1").alias("c2")), "w2", "left")
        .join(uni.select(F.col("w").alias("w3"), F.col("c1").alias("c3")), "w3", "left")
        .crossJoin(F.broadcast(totals))
    )
    s = (
        F.when(
            F.col("c3g").isNotNull(),
            F.col("c3g").cast("double") / F.col("c12").cast("double"),
        )
        .when(
            F.col("c23").isNotNull(),
            F.lit(_SB_ALPHA) * F.col("c23").cast("double") / F.col("c2").cast("double"),
        )
        .otherwise(
            F.lit(_SB_ALPHA * _SB_ALPHA)
            * (F.coalesce(F.col("c3"), F.lit(0)) + 1).cast("double")
            / (F.col("n_total") + F.col("v_size")).cast("double")
        )
    )
    doc = (
        j.select("doc_id", F.round(F.log(s) * 1_000_000).cast("long").alias("lp_micro"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.sum("lp_micro").cast("long").alias("sum_logp_micro"),
        )
    )
    mean_key = F.floor(F.col("sum_logp_micro") * 1.0 / F.col("n_scored")).cast("long")
    w = Window.orderBy(mean_key.desc(), F.col("doc_id"))
    nt = F.ntile(3).over(w)
    return (
        doc.select(
            "doc_id",
            "n_scored",
            "sum_logp_micro",
            F.when(nt == 1, "head").when(nt == 2, "middle").otherwise("tail")
            .alias("ppl_bucket"),
        )
        .orderBy("doc_id")
    )


# Wave 7 — interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995;
# Chen & Goodman 1999's interpolated variant with a fixed discount):
# the smoothing family KenLM implements and CCNet's quality filter
# actually ships with. Complements quality_perplexity_buckets (Stupid
# Backoff is the cheap web-scale approximation; KN is the principled
# one) with the SAME train/score split so the two scores are directly
# comparable per document.

#: fixed absolute discount (Chen & Goodman's D; 0.75 is the canonical
#: fixed choice when not estimated from n1/n2 counts).
_KN_D = 0.75


def _kn_cte_chain() -> str:
    """The interpolated-KN per-doc score relation as a WITH fragment
    (ends with ``kn_doc`` = (doc_id, n_scored, sum_logp_micro)) — shared
    by the per-doc score oracle and the selection-curve oracle so the two
    queries can never disagree about the model."""
    return f"""toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
    ),
    train_uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(t) AS w FROM toks WHERE doc_id % 2 = 0)
      GROUP BY w
    ),
    train_bi AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM (
        SELECT t[i-1] AS w1, t[i] AS w2
        FROM (SELECT t, unnest(generate_series(2, len(t))) AS i
              FROM toks WHERE doc_id % 2 = 0)
      ) GROUP BY w1, w2
    ),
    cont_l AS (
      SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1l FROM train_bi GROUP BY w1
    ),
    cont_r AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1r FROM train_bi GROUP BY w2
    ),
    tot AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM train_bi) AS t_types,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM train_uni) AS v_size
    ),
    pos2 AS (
      SELECT doc_id, t[i-1] AS w1, t[i] AS w2
      FROM (SELECT doc_id, t, unnest(generate_series(2, len(t))) AS i
            FROM toks WHERE len(t) >= 2)
    ),
    scored AS (
      SELECT p.doc_id,
        CASE WHEN u.c1 IS NOT NULL AND l.n1l IS NOT NULL THEN
          (greatest(CAST(COALESCE(b.c12, 0) AS DOUBLE) - {_KN_D}, 0.0)
           + {_KN_D} * CAST(l.n1l AS DOUBLE)
             * (CAST(COALESCE(r.n1r, 0) + 1 AS DOUBLE)
                / CAST(tot.t_types + tot.v_size AS DOUBLE)))
          / CAST(u.c1 AS DOUBLE)
        ELSE
          CAST(COALESCE(r.n1r, 0) + 1 AS DOUBLE)
          / CAST(tot.t_types + tot.v_size AS DOUBLE)
        END AS s
      FROM pos2 p
      LEFT JOIN train_uni u ON u.w = p.w1
      LEFT JOIN train_bi b ON b.w1 = p.w1 AND b.w2 = p.w2
      LEFT JOIN cont_l l ON l.w1 = p.w1
      LEFT JOIN cont_r r ON r.w2 = p.w2
      CROSS JOIN tot
    ),
    kn_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
             CAST(SUM(CAST(ROUND(ln(s) * 1000000.0) AS BIGINT)) AS BIGINT)
               AS sum_logp_micro
      FROM scored GROUP BY doc_id
    )"""


@query(
    "quality_kneser_ney_bigram",
    oracle=f"""
    WITH {_kn_cte_chain()}
    SELECT doc_id, n_scored, sum_logp_micro
    FROM kn_doc ORDER BY doc_id
    """,
    tags=("llm", "quality"),
)
def quality_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram log-likelihood per document (Kneser
    & Ney 1995; Chen & Goodman 1999, fixed discount D=0.75) — the
    smoothing KenLM implements, trained on the same even-doc_id half as
    quality_perplexity_buckets so the principled score and the Stupid
    Backoff approximation are directly comparable per doc:

        P(w2|w1) = (max(c(w1 w2) - D, 0) + D·N1+(w1·)·Pcont(w2)) / c(w1)
        Pcont(w2) = (N1+(·w2) + 1) / (T + V)   [add-one so OOV is finite]
        context w1 unseen, or seen only doc-final (no observed
        successor, zero interpolated mass) → P = Pcont(w2)

    where N1+ are CONTINUATION counts (distinct bigram types through the
    word — the Kneser-Ney insight that 'Francisco' is frequent but
    follows only 'San'), T = bigram type count, V = vocab size. Scores
    are micro-rounded per position BEFORE the per-doc sum
    (order-independent BIGINT, the house fixed-point contract).

    Plan, 100 TB-first: training is two count aggregations; the
    continuation tables derive from the bigram TYPE table (already
    aggregated, vocab² bounded); scoring is keyed LEFT equi-joins from
    the position relation — stopword context keys are the AQE skew-join
    case. The n-gram relations use the zip_with shingle build (NOT
    element_at-over-explode — the documented O(k·n²) re-inlining trap).
    No global sort anywhere: the output is doc-keyed."""
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
    cont_l = bi.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("n1l"))
    cont_r = bi.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1r"))
    tot = bi.agg(F.count(F.lit(1)).cast("long").alias("t_types")).crossJoin(
        uni.agg(F.count(F.lit(1)).cast("long").alias("v_size"))
    )

    pos2 = positional_shingles(docs, k=2).select(
        "doc_id",
        F.element_at(F.split("sh", " "), 1).alias("w1"),
        F.element_at(F.split("sh", " "), 2).alias("w2"),
    )
    j = (
        pos2.join(uni.withColumnRenamed("w", "w1"), "w1", "left")
        .join(bi, ["w1", "w2"], "left")
        .join(cont_l, "w1", "left")
        .join(cont_r, "w2", "left")
        .crossJoin(F.broadcast(tot))
    )
    pcont = (F.coalesce(F.col("n1r"), F.lit(0)) + 1).cast("double") / (
        F.col("t_types") + F.col("v_size")
    ).cast("double")
    # A context w1 with NO observed successor (only ever doc-final in
    # training: c1 > 0 but N1+(w1 .) = 0) has zero interpolated mass —
    # back off to the continuation probability, same as an unseen
    # context, instead of ln(0).
    s = F.when(
        F.col("c1").isNotNull() & F.col("n1l").isNotNull(),
        (
            F.greatest(
                F.coalesce(F.col("c12"), F.lit(0)).cast("double") - _KN_D,
                F.lit(0.0),
            )
            + F.lit(_KN_D) * F.col("n1l").cast("double") * pcont
        )
        / F.col("c1").cast("double"),
    ).otherwise(pcont)
    return (
        j.select(
            "doc_id",
            F.round(F.log(s) * 1_000_000).cast("long").alias("lp_micro"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.sum("lp_micro").cast("long").alias("sum_logp_micro"),
        )
        .orderBy("doc_id")
    )


# Wave 9 — the quality-selection tradeoff curve: CCNet keeps the best
# third of a crawl by LM score; the number a curator actually needs
# before picking ANY threshold is this table — for each score decile,
# how many documents and tokens survive, cumulatively. Built on the
# Kneser-Ney score (wave 7) through the SAME shared CTE chain, so the
# curve can never disagree with the per-doc scores.
@query(
    "quality_selection_tradeoff",
    oracle=f"""
    WITH {_kn_cte_chain()},
    sized AS (
      SELECT k.doc_id, k.n_scored, k.sum_logp_micro,
             CAST(len(list_filter(string_split_regex(d.text, '\\s+'),
                                  w -> len(w) > 0)) AS BIGINT) AS n_tokens,
             NTILE(10) OVER (
               ORDER BY CAST(FLOOR(k.sum_logp_micro * 1.0 / k.n_scored)
                             AS BIGINT) DESC, k.doc_id
             ) AS decile
      FROM kn_doc k JOIN documents d USING (doc_id)
    ),
    per AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM sized GROUP BY decile
    ),
    grand AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS all_tokens FROM per)
    SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_tokens,
           CAST(SUM(n_tokens) OVER (ORDER BY decile) AS BIGINT)
             AS cum_tokens,
           CAST(FLOOR(1000.0 * SUM(n_tokens) OVER (ORDER BY decile)
                      / grand.all_tokens) AS BIGINT) AS cum_token_permille
    FROM per CROSS JOIN grand ORDER BY decile
    """,
    tags=("llm", "quality", "curation"),
)
def quality_selection_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-selection tradeoff curve (the table behind CCNet's
    keep-the-head decision): documents ranked into deciles by mean
    Kneser-Ney score (best = decile 1), with per-decile and cumulative
    doc/token counts — 'if we cut at decile k, how many tokens survive'.
    Reuses quality_kneser_ney_bigram's scoring relation verbatim (module
    function call on the Spark side, shared CTE chain in the oracle), so
    curve and scores cannot diverge.

    Plan: the scoring joins are wave 7's; on top sit one doc-dimension
    NTILE (the documented small-side total order, thresholds-from-sample
    at production scale) and a 10-row cumulative window — nothing new
    shuffles at corpus grain."""
    from pyspark.sql.window import Window

    kn = quality_kneser_ney_bigram(spark, sf_dir)
    docs = load_tables(spark, sf_dir, "documents").documents
    toks = docs.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        )
        .cast("long")
        .alias("n_tokens"),
    )
    mean_key = F.floor(
        F.col("sum_logp_micro") * 1.0 / F.col("n_scored")
    ).cast("long")
    sized = kn.join(toks, "doc_id").select(
        "n_tokens",
        F.ntile(10)
        .over(Window.orderBy(mean_key.desc(), F.col("doc_id")))
        .alias("decile"),
    )
    per = sized.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    # r13: the grand total rides the SAME 10-row single-partition window
    # as the cumulative sum (unbounded-following frame) — the previous
    # crossJoin(broadcast(per.agg(...))) referenced `per` twice, which
    # re-evaluated the whole KN-scoring chain upstream of it (guide
    # §1.2: don't compute things twice; interleaved A/B 5.23 → 4.02 s).
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = F.sum("n_tokens").over(wcum).cast("long")
    allt = F.sum("n_tokens").over(wall).cast("long")
    return per.select(
        F.col("decile").cast("long").alias("decile"),
        "n_docs",
        "n_tokens",
        cum.alias("cum_tokens"),
        F.floor(F.lit(1000.0) * cum / allt)
        .cast("long")
        .alias("cum_token_permille"),
    ).orderBy("decile")
