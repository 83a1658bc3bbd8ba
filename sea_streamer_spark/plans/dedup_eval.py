"""Dedup evaluation: threshold sweeps, LSH recall and band curves, MinHash
estimate error, winnowing recall, prefix filters and order sensitivity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators.exact import idiv_col
from ..operators.pii import pii_injected_col, redact_chain_spark
from ..sources.tables import load_tables
from .dedup import dedup_clusters
from .dedup_curation import e2e_front_sql
from .fragments import (
    DUCK_SHINGLE_SETS,
    NEAR_DUP_PAIRS,
    near_dup_pairs_sql,
    shingle_overlap_sql,
)
from .registry import query
from .span_dedup import (
    WIN_MAX_DF,
    WIN_MIN_SHARED,
    dedup_winnowing_pairs,
    duck_winnow_prints,
)


@query(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH {DUCK_SHINGLE_SETS},
    p0 AS ({shingle_overlap_sql()}
    ),
    pj AS (
      SELECT doc_a, doc_b,
             CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS j
      FROM p0
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.3
    ),
    thr(t) AS (VALUES (30), (50), (70)),
    sel AS (SELECT t, doc_a, doc_b FROM pj, thr WHERE j >= t / 100.0),
    np AS (SELECT t, COUNT(*) AS n_pairs FROM sel GROUP BY t),
    nd AS (
      SELECT t, COUNT(DISTINCT d) AS n_docs FROM (
        SELECT t, doc_a AS d FROM sel
        UNION ALL SELECT t, doc_b FROM sel
      ) GROUP BY t
    )
    SELECT CAST(thr.t AS BIGINT) AS thr_pct,
           CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(nd.n_docs, 0) AS BIGINT) AS n_docs
    FROM thr LEFT JOIN np ON np.t = thr.t LEFT JOIN nd ON nd.t = thr.t
    ORDER BY thr_pct
    """,
    tags=("llm", "dedup", "eval"),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup threshold-tuning curve: near-dup pair count and distinct
    affected-doc count at Jaccard ≥ 0.3 / 0.5 / 0.7, from ONE shingle pass
    — the numbers a data team reads before committing to a threshold (too
    loose deletes distinct content, too tight leaves boilerplate; Lee et
    al. 2022 tune exactly this curve). Plan: candidate pairs are generated
    once at the loosest threshold (same shared-shingle equi-join economics
    as dedup_ngram_jaccard — volume scales with near-dup mass, never
    corpus²), then a bounded ×3 threshold explode and two keyed counts;
    thresholds with zero pairs still emit a row via the literal-frame left
    join. Threshold compare is the same double division (t/100.0) in both
    engines, so binning is bit-identical."""
    t = load_tables(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(t.documents, threshold=0.3)
    sel = pairs.select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.explode(F.array(F.lit(30), F.lit(50), F.lit(70))).alias("thr_pct"),
    ).filter(F.col("jaccard") >= F.col("thr_pct") / F.lit(100.0))
    np_ = sel.groupBy("thr_pct").agg(F.count(F.lit(1)).alias("n_pairs"))
    nd = (
        sel.select(
            "thr_pct", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .distinct()
        .groupBy("thr_pct")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    base = spark.createDataFrame([(30,), (50,), (70,)], "thr_pct int")
    return (
        base.join(np_, "thr_pct", "left")
        .join(nd, "thr_pct", "left")
        .select(
            F.col("thr_pct").cast("long").alias("thr_pct"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
        .orderBy("thr_pct")
    )


@query(
    "dedup_lsh_recall_eval",
    oracle=f"""
    WITH {DUCK_SHINGLE_SETS},
    exact AS (
      {NEAR_DUP_PAIRS}
    ), c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM exact)
    -- The oracle pins the EXACT side and asserts full recall (the 24x6
    -- banding recovers every J>=0.5 pair on this corpus, verified by the
    -- Spark side computing both pipelines for real). A RED row here means
    -- banding recall dropped below 1000 permille: recompute recall
    -- manually (run the Spark query and read recall_permille) rather than
    -- assuming an engine bug — the LSH side is deliberately not mirrored
    -- in SQL, so sub-full recall surfaces as a hash mismatch (r5 ADVICE).
    SELECT n AS n_exact_pairs, n AS n_lsh_pairs, n AS n_common,
           CAST(1000 AS BIGINT) AS recall_permille
    FROM c
    """,
    tags=("llm", "dedup", "eval"),
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the banded MinHash-LSH candidate path against
    exact shared-shingle Jaccard — the eval you run before trusting the
    LSH band/row knobs on a new corpus (24 hashes × 6 bands at J=0.5
    gives ~97 % theoretical pair recall; banding loss is silent unless
    measured). The Spark side genuinely computes BOTH pipelines and
    intersects; the oracle pins the registered contract that on this
    corpus the banded path achieves FULL recall (the same coincidence the
    ``dedup_minhash_lsh`` oracle has always asserted) — so any silent
    recall regression in the signature/banding code turns this row red
    instead of quietly shrinking dedup output.

    Plan: the two pair relations reuse the shingle shapes (LSH output is
    verified, hence ⊆ exact by construction — n_common is one equi-join);
    the result is a single row, aggregated map-side."""
    t = load_tables(spark, sf_dir, "documents")
    exact = D.jaccard_pairs(t.documents, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    lsh = D.minhash_lsh_dedup(t.documents, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    n_exact = exact.count()
    n_lsh = lsh.count()
    n_common = exact.join(lsh, ["doc_a", "doc_b"]).count()
    recall = (1000 * n_common) // n_exact if n_exact else 1000
    return spark.createDataFrame(
        [(n_exact, n_lsh, n_common, recall)],
        "n_exact_pairs long, n_lsh_pairs long, n_common long, "
        "recall_permille long",
    )


# Round-6 wave 3: MinHash estimator eval, embedding drift, vocab coverage,
# seasonality residuals, price index
def _build_minhash_estimate_oracle() -> str:
    # RECALL COUPLING (r6 ADVICE — triage note for a future red row):
    # this oracle enumerates ALL shingle-sharing pairs with J >= 0.5,
    # while the Spark side enumerates only LSH candidate pairs (24x6
    # banding). They agree iff LSH recall is 1000 permille on the
    # corpus — currently pinned by ``dedup_lsh_recall_eval``. If this
    # query ever goes red with the Spark side MISSING rows, re-run the
    # recall eval first: a recall drop below 1000‰ is the expected
    # cause, not an engine bug (the dedup_lsh_recall_eval
    # red-row-means-recompute-recall convention).
    from ..operators.dedup import MINHASH_AB, MOD, N_MINHASH
    from ..operators.text import duck_char_fold

    mins = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {MOD}) AS m{j}"
        for j, (a, b) in enumerate(MINHASH_AB)
    )
    matches = " + ".join(
        f"CAST(sa.m{j} = sb.m{j} AS BIGINT)" for j in range(N_MINHASH)
    )
    return f"""
    WITH {DUCK_SHINGLE_SETS},
    h AS (SELECT doc_id, {duck_char_fold('sh')} AS h FROM ds),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM h GROUP BY doc_id
    ),
    pairs AS (
      {near_dup_pairs_sql('doc_a, doc_b, inter, sa.n AS na, sb.n AS nb')}
    )
    SELECT p.doc_a, p.doc_b,
           CAST(FLOOR(1000.0 * p.inter / (p.na + p.nb - p.inter)) AS BIGINT)
             AS exact_permille,
           CAST(FLOOR(1000.0 * ({matches}) / {N_MINHASH}) AS BIGINT)
             AS est_permille,
           CAST(ABS(CAST(FLOOR(1000.0 * p.inter / (p.na + p.nb - p.inter)) AS BIGINT)
                  - CAST(FLOOR(1000.0 * ({matches}) / {N_MINHASH}) AS BIGINT))
                AS BIGINT) AS abs_err_permille
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    ORDER BY p.doc_a, p.doc_b
    """


@query(
    "dedup_minhash_estimate_error",
    oracle=_build_minhash_estimate_oracle(),
    tags=("llm", "dedup", "eval"),
)
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration eval: for every verified near-dup
    pair, the signature-agreement Jaccard estimate (matches/24, permille)
    against the exact shared-shingle Jaccard — the measurement that tells
    you whether 24 hashes are enough BEFORE trusting estimate-ranked
    dedup decisions at scale (E[est] = J; with 24 hashes the std-dev at
    J=0.5 is ~0.10, so per-pair errors of 100-200 permille are expected
    and the eval makes that visible instead of folklore). The DuckDB
    oracle replays the ENTIRE permutation family ((a_j*h+b_j) mod p over
    the same char-fold shingle hash) — the estimator itself is
    cross-engine-verified, not just the exact side.

    Plan: the shared (id, shingle) relation feeds both the signature
    groupBy (24 min-aggregates in one pass) and the candidate
    verification join — one explode, two keyed shuffles; pair volume is
    the LSH candidate set (recall pinned at 1000 permille on this corpus
    by dedup_lsh_recall_eval)."""
    from pyspark.sql import functions as F

    from ..operators.dedup import (
        N_MINHASH,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
    )

    docs = load_tables(spark, sf_dir, "documents").documents
    # No .cache() here (r6 ADVICE: a plan-builder's cache is never
    # unpersisted and accumulates across invocations in a long session).
    # The shingle relation fans into the signature groupBy and both join
    # sides; Spark's ReusedExchange covers the identical subtrees, and
    # the explode itself is cheap relative to a leaked cached relation.
    ds = shingle_sets(docs)
    sigs = minhash_signatures(docs, shingle_df=ds)
    cands = lsh_candidate_pairs(sigs)
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = ds.select(F.col("doc_id").alias("doc_a"), "sh")
    b = ds.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    pairs = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter"))
            >= 0.5
        )
    )
    siga = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sigb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    exact_pm = F.floor(
        F.lit(1000.0) * F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    ).cast("long")
    est_pm = F.floor(F.lit(1000.0) * matches / F.lit(N_MINHASH)).cast("long")
    return (
        pairs.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            exact_pm.alias("exact_permille"),
            est_pm.alias("est_permille"),
            F.abs(exact_pm - est_pm).cast("long").alias("abs_err_permille"),
        )
        .orderBy("doc_a", "doc_b")
    )


# Wave 8 — the measured-recall discipline applied to the new winnowing
# primitive (the dedup_lsh_recall_eval posture): how do MOSS substring
# matches relate to whole-doc Jaccard near-dups on this corpus? Unlike
# LSH (a randomized approximation of the SAME J>=0.5 criterion, where
# full recall is the contract), winnowing detects a DIFFERENT thing —
# shared substrings of >= W+k-1 tokens — so recall AND precision against
# the Jaccard truth are both informative and neither is pinned to 1000:
# the oracle honestly recomputes BOTH sides in SQL.
def _build_winnow_recall_oracle() -> str:
    return f"""
    WITH {DUCK_SHINGLE_SETS},{duck_winnow_prints()},
    ph AS (SELECT DISTINCT doc_id, fp_h FROM prints),
    ok AS (
      SELECT fp_h FROM ph GROUP BY fp_h
      HAVING COUNT(*) BETWEEN 2 AND {WIN_MAX_DF}
    ),
    wpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ph a JOIN ph b USING (fp_h) JOIN ok USING (fp_h)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= {WIN_MIN_SHARED}
    ),
    exact AS (
      {NEAR_DUP_PAIRS}
    ),
    m AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS e,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM wpairs) AS w,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM exact JOIN wpairs USING (doc_a, doc_b)) AS c
    )
    SELECT e AS n_exact_pairs, w AS n_winnow_pairs, c AS n_common,
           CAST(CASE WHEN e > 0 THEN 1000 * c // e ELSE 1000 END AS BIGINT)
             AS recall_permille,
           CAST(CASE WHEN w > 0 THEN 1000 * c // w ELSE 1000 END AS BIGINT)
             AS precision_permille
    FROM m"""


@query(
    "dedup_winnowing_recall_eval",
    oracle=_build_winnow_recall_oracle(),
    tags=("llm", "dedup", "eval"),
)
def dedup_winnowing_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall AND precision of winnowing-fingerprint pairs
    against exact J>=0.5 Jaccard near-dups — the calibration table for
    the W/k/min-shared knobs before trusting MOSS matches as a dedup
    signal on a new corpus. Neither figure is pinned (winnowing detects
    shared >= W+k-1-token substrings, a genuinely different criterion
    than whole-doc similarity): the oracle recomputes BOTH pair
    relations in SQL, so a red row means the pipelines diverged, not
    that the corpus moved. Spark side: both existing pair plans + one
    equi-join; one output row, aggregated driver-side from three
    geometry-bounded counts (the dedup_lsh_recall_eval posture)."""
    from ..operators import dedup as D

    t = load_tables(spark, sf_dir, "documents")
    # Both pair relations are tiny (duplication-bounded) but EXPENSIVE to
    # produce (full shingle self-join / winnow chain). r12: ONE
    # full-outer join + one aggregate computes all three counts in a
    # single job, so each chain is evaluated exactly once — previously 3
    # actions over 2 cached chains (2 cache-build evaluations + 3 job
    # round-trips; guide §1.2 / §5).
    exact = D.jaccard_pairs(t.documents, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    wpairs = dedup_winnowing_pairs(spark, sf_dir).select("doc_a", "doc_b")
    ov = exact.withColumn("e", F.lit(1)).join(
        wpairs.withColumn("w", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    row = ov.agg(
        F.sum(F.coalesce(F.col("e"), F.lit(0))).cast("long").alias("ne"),
        F.sum(F.coalesce(F.col("w"), F.lit(0))).cast("long").alias("nw"),
        F.sum(
            F.when(F.col("e").isNotNull() & F.col("w").isNotNull(), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("nc"),
    ).collect()[0]
    n_exact = int(row["ne"] or 0)
    n_win = int(row["nw"] or 0)
    n_common = int(row["nc"] or 0)
    recall = (1000 * n_common) // n_exact if n_exact else 1000
    precision = (1000 * n_common) // n_win if n_win else 1000
    return spark.createDataFrame(
        [(n_exact, n_win, n_common, recall, precision)],
        "n_exact_pairs long, n_winnow_pairs long, n_common long, "
        "recall_permille long, precision_permille long",
    )


# LSH banding-curve calibration (Leskovec/Rajaraman/Ullman's S-curve,
# ch. 3): per exact-Jaccard bucket, the fraction of true pairs the
# banded MinHash-LSH actually surfaced as candidates, beside the
# theoretical 1-(1-J^r)^b at the bucket midpoint. dedup_lsh_recall_eval
# pins the J>=0.5 aggregate; this is the full calibration curve — where
# the measured recall leaves the theory, the permutation family (not
# the banding math) is what drifted. Theory values are import-time
# python literals (no engine float); the measured side is pure counts;
# the one shared float is the exact-Jaccard ratio both engines already
# agree on everywhere else.
_LSH_J_FLOOR = 0.3  # curve floor: below this the S-curve is ~0 by design


def _lsh_theory_micro(j_mid: float) -> int:
    from ..operators.dedup import LSH_BANDS, LSH_ROWS

    p_band = j_mid**LSH_ROWS
    return round(1_000_000 * (1.0 - (1.0 - p_band) ** LSH_BANDS))


_LSH_THEORY = {b: _lsh_theory_micro((b + 0.5) / 10) for b in range(3, 10)}


def _build_lsh_curve_oracle() -> str:
    from ..operators.dedup import LSH_BANDS, LSH_ROWS, MINHASH_AB, N_MINHASH
    from ..operators.text import MOD, duck_char_fold

    mh = ", ".join(
        f"CAST(MIN(({a} * h + {b}) % {MOD}) AS BIGINT) AS mh_{j}"
        for j, (a, b) in enumerate(MINHASH_AB)
    )
    band_rows = []
    for bi in range(LSH_BANDS):
        cols = [f"mh_{bi * LSH_ROWS + r}" for r in range(LSH_ROWS)]
        sig = " || '-' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_rows.append(f"SELECT doc_id, {bi} AS band, {sig} AS key FROM sigs")
    bands = " UNION ALL ".join(band_rows)
    theory = ", ".join(f"({b}, {m})" for b, m in _LSH_THEORY.items())
    j_bucket = (
        "doc_a, doc_b, CAST(FLOOR(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) * 10)"
        " AS BIGINT) AS j_bucket"
    )
    return f"""
    WITH {DUCK_SHINGLE_SETS},
    hashed AS MATERIALIZED (
      SELECT doc_id, {duck_char_fold('sh')} AS h FROM ds
    ),
    sigs AS MATERIALIZED (SELECT doc_id, {mh} FROM hashed GROUP BY doc_id),
    bands AS MATERIALIZED ({bands}),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    exact AS MATERIALIZED ({near_dup_pairs_sql(j_bucket, floor=_LSH_J_FLOOR)}
    ),
    theory(j_bucket, p_theory_micro) AS (VALUES {theory})
    SELECT t.j_bucket,
           CAST(COALESCE(COUNT(e.doc_a), 0) AS BIGINT) AS n_true_pairs,
           CAST(COALESCE(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_candidates,
           CAST(CASE WHEN COUNT(e.doc_a) > 0
                THEN 1000 * SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0
                                END) // COUNT(e.doc_a)
                ELSE -1 END AS BIGINT) AS recall_permille,
           CAST(t.p_theory_micro AS BIGINT) AS p_theory_micro
    FROM theory t
    LEFT JOIN exact e ON e.j_bucket = t.j_bucket
    LEFT JOIN cand c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
    GROUP BY t.j_bucket, t.p_theory_micro
    ORDER BY t.j_bucket
    """


@query(
    "dedup_lsh_band_curve",
    oracle=_build_lsh_curve_oracle(),
    tags=("llm", "dedup", "eval"),
)
def dedup_lsh_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve, measured: per exact-Jaccard decile bucket
    (J >= 0.3), how many true pairs exist, how many the banded MinHash
    surfaced as candidates, the measured recall, and the theoretical
    1-(1-J^r)^b at the bucket midpoint (import-time literal). Empty
    buckets report -1 recall rather than a silent omission. The exact
    side is the duplication-bounded shingle self-join (the recall-eval
    convention — ground truth is allowed to be exact); the candidate
    side is the production banding. This is the table that says whether
    the 12x2 banding matches its own math on a REAL corpus."""
    from ..operators import dedup as D

    t = load_tables(spark, sf_dir, "documents")
    docs = t.documents
    ds = D.shingle_sets(docs).cache()
    try:
        sigs = D.minhash_signatures(docs, shingle_df=ds)
        cand = D.lsh_candidate_pairs(sigs).withColumn("hit", F.lit(True))
        exact = D.jaccard_pairs(
            docs, threshold=_LSH_J_FLOOR, shingle_df=ds
        ).select(
            "doc_a",
            "doc_b",
            F.floor(F.col("jaccard") * 10).cast("long").alias("j_bucket"),
        )
        theory_df = spark.createDataFrame(
            sorted(_LSH_THEORY.items()), "j_bucket long, p_theory_micro long"
        )
        joined = exact.join(cand, ["doc_a", "doc_b"], "left")
        per = joined.groupBy("j_bucket").agg(
            F.count(F.lit(1)).cast("long").alias("n_true_pairs"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_candidates"),
        )
        out = (
            F.broadcast(theory_df)
            .join(per, "j_bucket", "left")
            .select(
                "j_bucket",
                F.coalesce("n_true_pairs", F.lit(0)).cast("long").alias(
                    "n_true_pairs"
                ),
                F.coalesce("n_candidates", F.lit(0)).cast("long").alias(
                    "n_candidates"
                ),
                F.when(
                    F.coalesce(F.col("n_true_pairs"), F.lit(0)) > 0,
                    idiv_col(
                        F.lit(1000) * F.coalesce(F.col("n_candidates"), F.lit(0)),
                        F.coalesce(F.col("n_true_pairs"), F.lit(1)),
                    ),
                )
                .otherwise(F.lit(-1).cast("long"))
                .alias("recall_permille"),
                "p_theory_micro",
            )
            .orderBy("j_bucket")
        )
        out = out.localCheckpoint(eager=True)
    finally:
        ds.unpersist()
    return out


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


# Dedup stage-order sensitivity (the pipeline-design honesty row): the
# e2e funnel FIXES an order (exact dedup on redacted text, then the
# near-dup cluster keep-rule among exact survivors). Stage order is a
# real design choice — keep-min-per-cluster over ALL docs then exact
# dedup can keep a DIFFERENT set (the cluster representative may be an
# exact duplicate that order A already removed, whose group then
# re-elects). This row MEASURES the divergence on this corpus instead
# of asserting it away: both orders' final survivor sets, their
# intersection, and the set Jaccard (permille). Front stages are
# single-sourced from the e2e funnel (``_e2e_front_sql`` / the same
# Spark flags), so the sensitivity row can never drift from the
# pipeline it audits.
def _build_order_sensitivity_oracle() -> str:
    return f"""
    WITH {e2e_front_sql()},
    joined AS (
      SELECT e.doc_id, e.keep2, c.cluster_id
      FROM ex e JOIN cl c ON c.doc_id = e.doc_id
    ),
    order_a AS (
      SELECT doc_id FROM (
        SELECT doc_id, keep2 AND doc_id = MIN(CASE WHEN keep2 THEN doc_id
                 END) OVER (PARTITION BY cluster_id) AS keep
        FROM joined
      ) WHERE keep
    ),
    nd_first AS (
      SELECT j.doc_id, j.keep2,
             j.doc_id = MIN(j.doc_id) OVER (PARTITION BY j.cluster_id)
               AS keep_nd
      FROM joined j
    ),
    order_b AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               keep_nd AND doc_id = MIN(CASE WHEN keep_nd THEN doc_id END)
                 OVER (PARTITION BY h) AS keep
        FROM (SELECT n.doc_id, n.keep_nd, md5(r.r) AS h
              FROM nd_first n JOIN red r ON r.doc_id = n.doc_id)
      ) WHERE keep
    ),
    counts AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM joined) AS n_docs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM order_a) AS n_a,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM order_b) AS n_b,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM order_a JOIN order_b USING (doc_id)) AS n_common
    )
    SELECT n_docs, n_a AS n_exact_first, n_b AS n_neardup_first, n_common,
           CAST(1000 * n_common // (n_a + n_b - n_common) AS BIGINT)
             AS survivor_jaccard_permille
    FROM counts
    """


@query(
    "curation_dedup_order_sensitivity",
    oracle=_build_order_sensitivity_oracle(),
    tags=("llm", "curation", "dedup", "eval"),
)
def curation_dedup_order_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Survivor-set agreement between the two dedup stage orders
    (exact-then-neardup vs neardup-then-exact) on the shared redacted
    corpus: counts, intersection, and set Jaccard (permille). Same
    front stages as the e2e funnel (single-sourced)."""
    from pyspark.sql.window import Window


    docs = load_tables(spark, sf_dir, "documents").documents
    red = docs.select(
        "doc_id", "source", pii_injected_col().alias("t")
    ).select("doc_id", redact_chain_spark(F.col("t")).alias("r"))
    h = F.md5(F.col("r"))
    ex = red.select(
        "doc_id",
        F.col("r"),
        (
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy(h))
        ).alias("keep2"),
    )
    cl = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    joined = ex.join(cl, "doc_id")
    # r12: both orders' keep flags as COLUMNS on one relation, so the
    # redact + window chain evaluates once — the previous shape combined
    # four aggregates by crossJoin, re-evaluating `joined` four times
    # (guide §1.2: don't compute things twice). doc_id is unique, so
    # |A ∩ B| = Σ (keep_a AND keep_b) exactly.
    w_cl = Window.partitionBy("cluster_id")
    flagged = joined.select(
        "doc_id",
        "r",
        (
            F.col("keep2")
            & (
                F.col("doc_id")
                == F.min(F.when(F.col("keep2"), F.col("doc_id"))).over(w_cl)
            )
        ).alias("keep_a"),
        (F.col("doc_id") == F.min("doc_id").over(w_cl)).alias("keep_nd"),
    ).select(
        "doc_id",
        "keep_a",
        (
            F.col("keep_nd")
            & (
                F.col("doc_id")
                == F.min(
                    F.when(F.col("keep_nd"), F.col("doc_id"))
                ).over(Window.partitionBy(F.md5(F.col("r"))))
            )
        ).alias("keep_b"),
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("keep_a"), 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("keep_b"), 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("keep_a") & F.col("keep_b"), 1).otherwise(0))
        .cast("long")
        .alias("n_common"),
    ).select(
        "n_docs",
        F.col("n_a").alias("n_exact_first"),
        F.col("n_b").alias("n_neardup_first"),
        "n_common",
        idiv_col(
            F.col("n_common"),
            F.col("n_a") + F.col("n_b") - F.col("n_common"),
            scale=1000,
        ).alias("survivor_jaccard_permille"),
    )
