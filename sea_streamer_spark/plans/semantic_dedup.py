"""SemDeDup: the IVF-cell semantic dedup queries, their scale-aware
variant, and recall against exact cosine truth, the cell sweep and the
planted duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..sources.tables import load_tables
from .fragments import (
    DUCK_SHINGLE_SETS,
    NEAR_DUP_PAIRS,
    SEM_CELLS,
    SEM_THRESHOLD,
    cell_structs_sql,
    duck_cosine,
    gate_ivf_centroids,
    ivf_cell_sql,
    lit_vec,
    oracle_ivf_centroids,
    semantic_scored_sql,
)
from .registry import query


def _build_semantic_oracle() -> str | None:
    """Import-time DuckDB oracle, same pattern as similarity._build_ivf_oracle:
    the shared memoized quantizer (fragments.oracle_ivf_centroids — one sample
    scan + one training per process across all ANN oracles) emits centroid
    literals, and the SQL recomputes cell assignment (struct-max argmax with
    the smaller-cell tie-break, the single-sourced ivf_cell_sql snippet)
    plus the within-cell dominated-by-smaller-id EXISTS rule — bit-exact
    because every float expression uses the same fold order as the Spark
    side."""

    C = oracle_ivf_centroids(n_cells=SEM_CELLS, iters=8)
    if C is None:
        return None
    return f"""
    WITH assigned AS (
      SELECT vec_id, embedding,
             {ivf_cell_sql(C, 'cell')}
      FROM embeddings
    )
    SELECT a.vec_id, a.cell,
           NOT EXISTS (
             SELECT 1 FROM assigned b
             WHERE b.cell = a.cell AND b.vec_id < a.vec_id
               AND {duck_cosine('a.embedding', 'b.embedding')} >= {SEM_THRESHOLD}
           ) AS kept
    FROM assigned a
    ORDER BY vec_id
    """


@query(
    "dedup_semantic_ivf",
    oracle=_build_semantic_oracle(),
    tags=("llm", "dedup", "similarity", "approx"),
)
def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: assign every embedding to a k-means
    cell (map-side projection against broadcast centroid literals —
    operators/similarity.ivf_cell_expr), then drop any vector that has a
    smaller-id neighbor with cosine ≥ 0.45 *in the same cell*. The
    within-cell equi-join bounds candidate pairs by cell population — the
    cluster-pruned shape that makes semantic dedup feasible where all-pairs
    (similarity_near_dup, the exact baseline beside this) is quadratic.
    Deterministic end-to-end (seedless quantizer), so the import-time
    oracle value-hash checks it exactly. Quantizer pinned to the
    ORACLE_SF_DIR sample (gate_ivf_centroids), so the centroid-literal
    oracle matches at EVERY sf."""

    t = load_tables(spark, sf_dir, "embeddings")
    cents = gate_ivf_centroids(n_cells=SEM_CELLS)
    if cents is None:
        cents = S.ivf_centroids(t.embeddings, n_cells=SEM_CELLS)
    # r12: fan_out measured here and REVERTED — unlike _semantic_scored,
    # this query's wall is its Σpop² pair join, not the 16-cell argmax;
    # the added exchange cost more than the parallelism bought (0.33 →
    # 0.40 s at sf0.1)
    assigned = t.embeddings.select(
        "vec_id", "embedding", S.ivf_cell_expr(cents).alias("cell")
    )
    # r12: hoist per-vector norms before the pair join — 1 fold per
    # candidate pair instead of S.cosine's 3; bit-identical (same fold,
    # same dot/(na*nb) association — the _semantic_dropped
    # note).
    withn = assigned.withColumn(
        "nrm", F.sqrt(S.dot(F.col("embedding"), F.col("embedding")))
    )
    a, b = withn.alias("a"), withn.alias("b")
    cos_ab = S.dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .filter(cos_ab >= SEM_THRESHOLD)
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("hit", F.lit(True)), "vec_id", "left")
        .select("vec_id", "cell", F.coalesce(~F.col("hit"), F.lit(True)).alias("kept"))
        .orderBy("vec_id")
    )


# SemDeDup. The quantizer, cell-assignment SQL and 0.45 threshold are
# single-sourced with dedup_semantic_ivf so the two semantic
# queries can never disagree about what a cell or a near-dup is.
def _semantic_scored(
    spark: SparkSession, sf_dir: str, n_cells: int = SEM_CELLS
) -> DataFrame:
    """:func:`_semantic_score` over the sf_dir's embeddings table with
    the :func:`_semantic_centroids` quantizer. ``n_cells`` defaults to
    the gate-pinned 16 (dedup_semantic_cluster); the scale-aware
    variant (dedup_semantic_cluster_scaled) passes the
    ``semantic_cells_for`` rung instead."""
    t = load_tables(spark, sf_dir, "embeddings")
    return _semantic_score(
        t.embeddings, _semantic_centroids(t.embeddings, n_cells)
    )


def _semantic_centroids(emb: DataFrame, n_cells: int) -> list:
    """The gate-pinned ``n_cells`` quantizer (train-once-apply-at-any-
    scale), or — when the gate data is absent — one trained on ``emb``."""

    cents = gate_ivf_centroids(n_cells=n_cells)
    if cents is None:
        cents = S.ivf_centroids(emb, n_cells=n_cells)
    return cents


def _semantic_score(emb: DataFrame, cents: list) -> DataFrame:
    """(vec_id, embedding, cell, cos_c_micro) for every row of ``emb``
    against the ``cents`` quantizer: cell assignment is the map-side
    argmax projection (never shuffles); the cosine-to-centroid rides in
    on a broadcast join against the centroid table, then micro-rounds to
    a BIGINT — the ONE float op, rounded per row before any cross-row
    comparison (the one-float-then-fixed-point rule)."""
    from ..operators.scale import fan_out

    cent_df = emb.sparkSession.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cents],
        "cell long, cvec array<double>",
    )
    # r12: fan_out before the argmax projection — the n_cells × dim
    # distance fold is the expensive per-row stage, and the embeddings
    # scan is one small-file split locally, so without the fan-out the
    # whole quantization ran in a single task (guide §2.5 input-parallelism
    # note; no-op at production scale where splits ≫ cores).
    assigned = fan_out(emb, key="vec_id").select(
        "vec_id", "embedding", S.ivf_cell_expr(cents).alias("cell")
    )
    return assigned.join(F.broadcast(cent_df), "cell").select(
        "vec_id",
        "embedding",
        "cell",
        F.floor(
            S.cosine(F.col("embedding"), F.col("cvec")) * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cos_c_micro"),
    )


def _semantic_candidates(scored: DataFrame) -> DataFrame:
    """(va, vb, cos): every same-cell pair of the scored relation where
    ``vb`` ranks STRICTLY better than ``va`` — rank = (cos_c_micro ASC,
    vec_id ASC) — with their exact cosine. The join is cell-keyed
    (equi-join on cell, never all-pairs); candidate volume is
    Σ cell_pop² — at production scale the cell count is the knob
    (thousands of cells keeps populations √N-ish), here it is the
    gate-pinned 16-cell quantizer shared with the ANN queries.

    r12: per-vector norms are precomputed ONCE before the pair join —
    ``S.cosine`` per candidate pair is 3 array folds (dot + both
    norms); hoisting ``nrm = sqrt(dot(v, v))`` to a projection makes it
    1 fold per pair. Bit-identical (the r9 recall_eval precedent,
    pinned by test_exact_cosine_pairs_matches_jvm_fold's fold-equality
    family): the norm VALUE is the same double (same fold), and the
    comparison keeps cosine's ``dot / (na * nb)`` association."""
    s = scored.withColumn(
        "nrm", F.sqrt(S.dot(F.col("embedding"), F.col("embedding")))
    )
    a, b = s.alias("a"), s.alias("b")
    better = (F.col("b.cos_c_micro") < F.col("a.cos_c_micro")) | (
        (F.col("b.cos_c_micro") == F.col("a.cos_c_micro"))
        & (F.col("b.vec_id") < F.col("a.vec_id"))
    )
    return a.join(b, (F.col("a.cell") == F.col("b.cell")) & better).select(
        F.col("a.vec_id").alias("va"),
        F.col("b.vec_id").alias("vb"),
        (
            S.dot(F.col("a.embedding"), F.col("b.embedding"))
            / (F.col("a.nrm") * F.col("b.nrm"))
        ).alias("cos"),
    )


def _semantic_dropped(cand: DataFrame) -> DataFrame:
    """vec_ids that lose to a better-ranked same-cell near-duplicate: a
    vector is dropped iff some candidate pair (:func:`_semantic_candidates`)
    has cosine ≥ the threshold, so exactly one member of every duplicate
    group survives and it is the least-central one (SemDeDup's
    keep-the-outlier rule)."""
    return (
        cand.filter(F.col("cos") >= F.lit(SEM_THRESHOLD))
        .select(F.col("va").alias("vec_id"))
        .distinct()
    )


_SEM_BETTER = (
    "(b.cos_c_micro < a.cos_c_micro OR "
    "(b.cos_c_micro = a.cos_c_micro AND b.vec_id < a.vec_id))"
)


def _build_semantic_cluster_oracle() -> str:
    return f"""
    WITH {semantic_scored_sql()}
    SELECT a.vec_id, a.cell, a.cos_c_micro,
           NOT EXISTS (
             SELECT 1 FROM scored b
             WHERE b.cell = a.cell AND {_SEM_BETTER}
               AND {duck_cosine('a.embedding', 'b.embedding')}
                   >= {SEM_THRESHOLD}
           ) AS kept
    FROM scored a
    ORDER BY vec_id
    """


@query(
    "dedup_semantic_cluster",
    oracle=_build_semantic_cluster_oracle(),
    tags=("llm", "dedup", "similarity"),
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540): k-means-cell-bucketed semantic dedup
    with keep-one-representative. Every vector gets its cell (map-side
    argmax against broadcast centroid literals — zero shuffle), its
    micro-rounded cosine-to-centroid (broadcast join against the 16-row
    centroid table), and a verdict: dropped iff a same-cell neighbor
    with cosine ≥ 0.45 ranks strictly better (lower cos_c_micro, then
    lower vec_id) — so each duplicate group keeps exactly its
    least-central member, the paper's diversity-preserving choice.
    Candidate pairs are bounded by cell population (the cluster-pruned
    shape that makes this feasible where all-pairs is quadratic);
    deterministic end-to-end, so the oracle value-hash checks it
    exactly at every sf (gate-pinned quantizer)."""
    scored = _semantic_scored(spark, sf_dir)
    dropped = _semantic_dropped(_semantic_candidates(scored))
    return (
        scored.join(dropped.withColumn("hit", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "cos_c_micro",
            F.coalesce(~F.col("hit"), F.lit(True)).alias("kept"),
        )
        .orderBy("vec_id")
    )


def _build_semantic_recall_oracle() -> str:
    return f"""
    WITH {DUCK_SHINGLE_SETS},
    {semantic_scored_sql()},
    sem_pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM scored a JOIN scored b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {SEM_THRESHOLD}
    ),
    true_pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM assigned a JOIN assigned b ON a.vec_id < b.vec_id
      WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {SEM_THRESHOLD}
    ),
    dropped AS (
      SELECT a.vec_id FROM scored a
      WHERE EXISTS (
        SELECT 1 FROM scored b
        WHERE b.cell = a.cell AND {_SEM_BETTER}
          AND {duck_cosine('a.embedding', 'b.embedding')}
              >= {SEM_THRESHOLD}
      )
    ),
    exact AS (
      {NEAR_DUP_PAIRS}
    ),
    jdocs AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM exact
        UNION ALL SELECT doc_b FROM exact
      )
    ),
    m AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM true_pairs) AS t,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM sem_pairs) AS s,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM sem_pairs JOIN true_pairs USING (va, vb)) AS c,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM dropped) AS d,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM jdocs) AS j,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM dropped JOIN jdocs ON vec_id = doc_id) AS o
    )
    SELECT t AS n_true_pairs, s AS n_sem_pairs, c AS n_common,
           CAST(CASE WHEN t > 0 THEN 1000 * c // t ELSE 1000 END AS BIGINT)
             AS recall_permille,
           CAST(CASE WHEN s > 0 THEN 1000 * c // s ELSE 1000 END AS BIGINT)
             AS precision_permille,
           d AS n_sem_dropped, j AS n_jaccard_dup_docs, o AS n_overlap_docs
    FROM m
    """


@query(
    "dedup_semantic_recall_eval",
    oracle=_build_semantic_recall_oracle(),
    tags=("llm", "dedup", "eval"),
)
def dedup_semantic_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall/precision of SemDeDup's cluster-bucketed candidate
    pairs against the EXACT all-pairs cosine-≥-threshold truth — recall
    quantifies what cell-splitting loses (a true near-dup pair lands in
    two different cells and is never compared; the paper accepts this as
    the price of tractability), precision is structurally 1000: every
    candidate is verified by the bit-identical cosine, so sem_pairs is
    exactly truth ∩ same-cell — derived that way (r12), with the
    independent oracle recomputing both sides as the honest check.
    The second half measures agreement with TEXT ground truth: dropped
    vec_ids vs membership in an exact Jaccard-≥0.5 near-dup pair — on
    this corpus the synthetic embeddings don't track text similarity,
    and the overlap column says so with a number instead of a claim.
    All-pairs truth is quadratic BY DESIGN (it is the eval's ground
    truth, same as dedup_lsh_recall_eval); the operator itself never
    leaves cell-bucketed joins."""
    from ..operators import dedup as D

    # Truth side via the blocked numpy tile sweep (r9 VERDICT task #4:
    # the JVM all-pairs fold was 54 s at sf0.1 — 62% of the new_ops
    # bench wall). exact_cosine_pairs accumulates dots and norms one
    # dimension at a time (the identical left fold), so every cosine is
    # bit-identical to the JVM per-pair fold and to the oracle; pinned
    # by tests/test_llm_ops14.py::test_exact_cosine_pairs_matches_jvm_
    # fold.
    #
    # r12 restructure (guide §8: decide with small rows): the previous
    # shape ALSO paid two Σ pop_c² cell-bucketed joins with a per-pair
    # JVM cosine fold (sem_pairs + _semantic_dropped) — recomputing
    # cosines the truth side had already computed for every one of those
    # pairs. Because a same-cell pair with cosine ≥ t is BY DEFINITION a
    # truth pair (bit-identical cosine, pinned above), sem_pairs ==
    # truth ∩ same-cell, and the dropped set is exactly the worse-ranked
    # endpoint ((cos_c_micro ASC, vec_id ASC) — _SEM_BETTER) of each
    # same-cell truth pair. Both now derive from the truth table via
    # vec_id-keyed equi-joins against the 1-row-per-vector cell/rank
    # metadata: zero quadratic JVM work, and the six driver count()
    # actions fuse into two aggregates (13.1 s → measured in
    # OPTIMIZATION_r12.md). n_common == n_sem by the same set inclusion
    # (the old join-count, retained as an identity); the oracle still
    # computes every side independently, so the cross-engine equality
    # remains the honest check.
    t = load_tables(spark, sf_dir, "documents", "embeddings")
    truth_df, _n = S.exact_cosine_pairs_n(t.embeddings, SEM_THRESHOLD)
    truth = truth_df.select(
        F.col("id_a").alias("va"), F.col("id_b").alias("vb")
    )
    meta = _semantic_scored(spark, sf_dir).select(
        "vec_id", "cell", "cos_c_micro"
    )
    ma = meta.select(
        F.col("vec_id").alias("va"),
        F.col("cell").alias("cell_a"),
        F.col("cos_c_micro").alias("mu_a"),
    )
    mb = meta.select(
        F.col("vec_id").alias("vb"),
        F.col("cell").alias("cell_b"),
        F.col("cos_c_micro").alias("mu_b"),
    )
    ann = (
        truth.join(ma, "va")
        .join(mb, "vb")
        .select(
            "va",
            "vb",
            (F.col("cell_a") == F.col("cell_b")).alias("same_cell"),
            # the worse-ranked endpoint (the one _SEM_BETTER drops):
            # va < vb always, so ties on cos_c_micro drop vb.
            F.when(
                (F.col("mu_a") < F.col("mu_b"))
                | (
                    (F.col("mu_a") == F.col("mu_b"))
                    & (F.col("va") < F.col("vb"))
                ),
                F.col("vb"),
            )
            .otherwise(F.col("va"))
            .alias("worse"),
        )
        .cache()
    )
    try:
        agg = ann.agg(
            F.count(F.lit(1)).cast("long").alias("t"),
            F.sum(F.when(F.col("same_cell"), 1).otherwise(0))
            .cast("long")
            .alias("s"),
        ).collect()[0]
        n_true, n_sem = int(agg["t"] or 0), int(agg["s"] or 0)
        n_common = n_sem  # sem_pairs ⊆ true_pairs (set inclusion above)
        dropped = (
            ann.filter("same_cell")
            .select(F.col("worse").alias("doc_id"))
            .distinct()
        )
        jpairs = D.jaccard_pairs(t.documents, threshold=0.5).select(
            "doc_a", "doc_b"
        )
        jdocs = (
            jpairs.select(F.col("doc_a").alias("doc_id"))
            .unionAll(jpairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        # one full-outer join aggregates the three remaining counts in a
        # single job (dropped / jaccard-dup docs / their overlap)
        ov = dropped.withColumn("d", F.lit(1)).join(
            jdocs.withColumn("j", F.lit(1)), "doc_id", "full_outer"
        )
        row = ov.agg(
            F.sum(F.coalesce(F.col("d"), F.lit(0))).cast("long").alias("nd"),
            F.sum(F.coalesce(F.col("j"), F.lit(0))).cast("long").alias("nj"),
            F.sum(
                F.when(F.col("d").isNotNull() & F.col("j").isNotNull(), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("no"),
        ).collect()[0]
        n_dropped = int(row["nd"] or 0)
        n_jdocs = int(row["nj"] or 0)
        n_overlap = int(row["no"] or 0)
    finally:
        ann.unpersist()
    recall = (1000 * n_common) // n_true if n_true else 1000
    precision = (1000 * n_common) // n_sem if n_sem else 1000
    return spark.createDataFrame(
        [
            (
                n_true,
                n_sem,
                n_common,
                recall,
                precision,
                n_dropped,
                n_jdocs,
                n_overlap,
            )
        ],
        "n_true_pairs long, n_sem_pairs long, n_common long, "
        "recall_permille long, precision_permille long, "
        "n_sem_dropped long, n_jaccard_dup_docs long, n_overlap_docs long",
    )


# SemDeDup cell-count calibration + the scale-aware operator.
_SWEEP_CELLS = (4, 16, 64)


_SEM_TARGET_POP = 32


#: gate-trained rungs of semantic_cells_for baked into the _scaled
#: oracle; rung k is the formula's answer exactly for n ∈ (16k, 32k].
_SCALED_RUNGS = (16, 64)


def _sweep_colocated(truth: DataFrame, cells: DataFrame) -> DataFrame:
    """Truth pairs whose two endpoints share a cell — both lookups are
    vec_id-keyed equi-joins (plan-pinned: no nested-loop anywhere in the
    sweep's counting side)."""
    xa = cells.select(
        F.col("vec_id").alias("va"), F.col("cell").alias("cell_a")
    )
    xb = cells.select(
        F.col("vec_id").alias("vb"), F.col("cell").alias("cell_b")
    )
    return (
        truth.join(xa, "va")
        .join(xb, "vb")
        .filter(F.col("cell_a") == F.col("cell_b"))
    )


def _cell_sweep(
    spark: SparkSession,
    corpus: DataFrame,
    truth: DataFrame,
    n_vec: int,
    sweep: tuple,
) -> DataFrame:
    """The SemDeDup cell sweep: for each cell count in ``sweep``, the
    same-cell candidate volume of ``corpus(vec_id, embedding)`` under the
    gate-trained quantizer and how many ``truth(va, vb)`` pairs share a
    cell. When truth also carries a boolean ``planted`` column, the rows
    add the planted-pair counts and recall."""

    planted = "planted" in truth.columns
    truth = truth.cache()
    # All assignments in ONE relation keyed by (k, vec_id): the
    # per-k loop previously issued 2 actions per cell count (9 jobs
    # total — 22 s of mostly scheduling at sf0.1); candidate volumes
    # and colocated-truth counts now take one job each (4 total).
    per_k = []
    for k in sweep:
        cents = gate_ivf_centroids(n_cells=k)
        if cents is None:
            cents = S.ivf_centroids(corpus, n_cells=k)
        per_k.append(
            corpus.select(
                F.lit(k).cast("long").alias("k"),
                "vec_id",
                S.ivf_cell_expr(cents).alias("cell"),
            )
        )
    cells_all = per_k[0]
    for d in per_k[1:]:
        cells_all = cells_all.unionByName(d)
    cells_all = cells_all.cache()
    n_flagged = F.coalesce(
        F.sum(F.when(F.col("planted"), 1).otherwise(0)), F.lit(0)
    ).cast("long")
    names = [
        "n_cells", "n_vectors", "n_true_pairs", "n_planted_pairs",
        "n_candidate_pairs", "n_true_colocated", "n_planted_colocated",
        "recall_permille", "planted_recall_permille",
        "candidate_share_permille", "recommended",
    ]
    if not planted:
        names = [n for n in names if "planted" not in n]
    out = []
    try:
        if planted:
            tstats = truth.agg(
                F.count(F.lit(1)).cast("long").alias("t"),
                n_flagged.alias("pl"),
            ).collect()[0]
            n_true, n_planted = tstats["t"], tstats["pl"]
        else:
            n_true, n_planted = truth.count(), 0
        pair2 = {
            r["k"]: r["p2"]
            for r in cells_all.groupBy("k", "cell")
            .agg(F.count(F.lit(1)).cast("long").alias("pop"))
            .groupBy("k")
            .agg(
                F.coalesce(
                    F.sum(F.col("pop") * (F.col("pop") - 1)), F.lit(0)
                )
                .cast("long")
                .alias("p2")
            )
            .collect()
        }
        xa = cells_all.select(
            "k", F.col("vec_id").alias("va"), F.col("cell").alias("cell_a")
        )
        xb = cells_all.select(
            "k", F.col("vec_id").alias("vb"), F.col("cell").alias("cell_b")
        )
        coloc_aggs = [F.count(F.lit(1)).cast("long").alias("n")]
        if planted:
            coloc_aggs.append(n_flagged.alias("npl"))
        coloc = {
            r["k"]: r
            for r in truth.join(xa, "va")
            .join(xb, ["k", "vb"])
            .filter(F.col("cell_a") == F.col("cell_b"))
            .groupBy("k")
            .agg(*coloc_aggs)
            .collect()
        }
        for k in sweep:
            n_cand = pair2.get(k, 0) // 2
            n_coloc = coloc[k]["n"] if k in coloc else 0
            n_pl_coloc = coloc[k]["npl"] if planted and k in coloc else 0
            c = (n_vec + _SEM_TARGET_POP - 1) // _SEM_TARGET_POP
            row = {
                "n_cells": k,
                "n_vectors": n_vec,
                "n_true_pairs": n_true,
                "n_planted_pairs": n_planted,
                "n_candidate_pairs": n_cand,
                "n_true_colocated": n_coloc,
                "n_planted_colocated": n_pl_coloc,
                "recall_permille": (1000 * n_coloc) // n_true if n_true else 1000,
                "planted_recall_permille": (1000 * n_pl_coloc) // n_planted
                if n_planted
                else 1000,
                "candidate_share_permille": (1000 * n_cand)
                // (n_vec * (n_vec - 1) // 2)
                if n_vec > 1
                else 0,
                "recommended": bool(k >= c and k // 2 < c),
            }
            out.append(tuple(row[n] for n in names))
    finally:
        truth.unpersist()
        cells_all.unpersist()
    return spark.createDataFrame(
        out,
        ", ".join(
            f"{n} {'boolean' if n == 'recommended' else 'long'}" for n in names
        ),
    ).orderBy("n_cells")


def _build_cell_sweep_oracle(
    sweep: tuple = _SWEEP_CELLS, planted: tuple[str, str] | None = None
) -> str:
    """Oracle of the SemDeDup cell sweep over ``embeddings``. With
    ``planted = (corpus_cte, base_key)`` it sweeps the planted ``corpus``
    CTE instead: ``base_key`` (an ``{id}`` template naming a vector's
    planted cluster) flags truth pairs inside one cluster and the rows
    add the planted-pair columns."""
    src = "corpus" if planted else "embeddings"
    assigns = []
    rows = []
    for k in sweep:
        C = oracle_ivf_centroids(n_cells=k, iters=8)
        if C is None:  # gate data absent: oracle never runs, placeholder
            return "SELECT 1 AS n_cells"
        assigns.append(
            f"""assign{k} AS (
      SELECT vec_id,
             {ivf_cell_sql(C, 'cell')}
      FROM {src}
    )"""
        )
        coloc = f"""FROM truth p
                JOIN assign{k} x ON x.vec_id = p.va
                JOIN assign{k} y ON y.vec_id = p.vb
              WHERE x.cell = y.cell"""
        planted_pairs = "(SELECT pl FROM nt) AS n_planted_pairs," if planted else ""
        planted_coloc = (
            f""",
             (SELECT CAST(COALESCE(SUM(CASE WHEN p.planted THEN 1 ELSE 0
                                        END), 0) AS BIGINT) {coloc}) AS n_planted_colocated"""
            if planted
            else ""
        )
        rows.append(
            f"""
      SELECT CAST({k} AS BIGINT) AS n_cells,
             (SELECT n FROM nv) AS n_vectors,
             (SELECT t FROM nt) AS n_true_pairs,
             {planted_pairs}
             (SELECT CAST(COALESCE(SUM(pop * (pop - 1)), 0) // 2 AS BIGINT)
              FROM (SELECT CAST(COUNT(*) AS BIGINT) AS pop
                    FROM assign{k} GROUP BY cell)) AS n_candidate_pairs,
             (SELECT CAST(COUNT(*) AS BIGINT) {coloc}) AS n_true_colocated{planted_coloc}"""
        )
    assigns_sql = ",\n    ".join(assigns)
    union_sql = "\n      UNION ALL".join(rows)
    if planted:
        corpus_cte, base_key = planted
        key_a, key_b = base_key.format(id="a.vec_id"), base_key.format(id="b.vec_id")
        head = f"""WITH {corpus_cte},
    truth AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             ({key_a}) = ({key_b}) AS planted"""
        n_planted = """,
                  CAST(COALESCE(SUM(CASE WHEN planted THEN 1 ELSE 0 END), 0)
                       AS BIGINT) AS pl"""
        planted_cols = ("n_planted_pairs,", "n_planted_colocated,")
        planted_recall = """
           CAST(CASE WHEN n_planted_pairs > 0
                THEN 1000 * n_planted_colocated // n_planted_pairs
                ELSE 1000 END AS BIGINT) AS planted_recall_permille,"""
    else:
        head = """WITH truth AS (
      SELECT a.vec_id AS va, b.vec_id AS vb"""
        n_planted = planted_recall = ""
        planted_cols = ("", "")
    return f"""
    {head}
      FROM {src} a JOIN {src} b ON a.vec_id < b.vec_id
      WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {SEM_THRESHOLD}
    ),
    nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {src}),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t{n_planted}
           FROM truth),
    {assigns_sql},
    raw AS ({union_sql}
    )
    SELECT n_cells, n_vectors, n_true_pairs, {planted_cols[0]}
           n_candidate_pairs, n_true_colocated, {planted_cols[1]}
           CAST(CASE WHEN n_true_pairs > 0
                THEN 1000 * n_true_colocated // n_true_pairs
                ELSE 1000 END AS BIGINT) AS recall_permille,{planted_recall}
           CAST(CASE WHEN n_vectors > 1
                THEN CAST(1000 AS HUGEINT) * n_candidate_pairs
                     // (CAST(n_vectors AS HUGEINT) * (n_vectors - 1) // 2)
                ELSE 0 END AS BIGINT) AS candidate_share_permille,
           (n_cells >= (n_vectors + {_SEM_TARGET_POP - 1})
                       // {_SEM_TARGET_POP}
            AND n_cells // 2 < (n_vectors + {_SEM_TARGET_POP - 1})
                               // {_SEM_TARGET_POP}) AS recommended
    FROM raw ORDER BY n_cells
    """


@query(
    "dedup_semantic_cell_sweep",
    oracle=_build_cell_sweep_oracle(),
    tags=("llm", "dedup", "eval"),
)
def dedup_semantic_cell_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cell-count calibration (r9 VERDICT task #1): one row per
    swept quantizer size (4/16/64 cells, each the gate-trained k-means
    shared with the ANN family) measuring what cell granularity buys and
    costs at THIS corpus size — same-cell candidate pairs (the operator's
    join volume, Σ pop·(pop−1)/2), their share of all-pairs (permille),
    and recall of the exact all-pairs cosine-≥0.45 truth (a true pair in
    two different cells is never compared — SemDeDup's approximation).
    ``recommended`` marks the count ``semantic_cells_for`` (smallest
    power of two with expected population ≤ 32 — volume ≈ N·32, linear)
    picks for this N: the measured row that backs the production
    formula. Truth side is the blocked numpy tile sweep
    (exact_cosine_pairs — all-pairs BY DESIGN, it is ground truth);
    the counting side never leaves vec_id/cell-keyed equi-joins."""
    from ..operators.scale import fan_out

    t = load_tables(spark, sf_dir, "embeddings")
    # r12: fan_out — the three quantizer applies are the expensive
    # per-row stages; without it they all ran inside the one small-file
    # scan task (no-op at production split counts)
    emb = fan_out(t.embeddings, key="vec_id")
    # the truth side collects every row anyway — reuse its count instead
    # of paying a separate emb.count() job (r12, guide §5)
    truth_df, n_vec = S.exact_cosine_pairs_n(emb, SEM_THRESHOLD)
    truth = truth_df.select(
        F.col("id_a").alias("va"), F.col("id_b").alias("vb")
    )
    return _cell_sweep(spark, emb, truth, n_vec, _SWEEP_CELLS)


def _build_scaled_cluster_oracle() -> str:
    cents = {}
    for k in _SCALED_RUNGS:
        C = oracle_ivf_centroids(n_cells=k, iters=8)
        if C is None:  # gate data absent: oracle never runs, placeholder
            return "SELECT 1 AS vec_id"
        cents[k] = C
    when_rungs = " ".join(
        f"WHEN n > {16 * k} AND n <= {32 * k} THEN {k}"
        for k in _SCALED_RUNGS
    )
    cent_branches = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM (VALUES {', '.join(f'({i}, {lit_vec(cents[k][i])})' for i in range(len(cents[k])))}) "
        f"c{k}(cell, cvec) WHERE (SELECT k FROM pick) = {k}"
        for k in _SCALED_RUNGS
    )
    assign_case = " ".join(
        f"WHEN (SELECT k FROM pick) = {k} "
        f"THEN -(list_aggregate([{cell_structs_sql(cents[k])}], 'max').negcell)"
        for k in _SCALED_RUNGS
    )
    return f"""
    WITH nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    pick AS (
      SELECT CASE {when_rungs}
        ELSE CAST(error('dedup_semantic_cluster_scaled: unbaked quantizer '
             || 'rung for this corpus size — train and bake it first')
             AS INT)
      END AS k FROM nv
    ),
    cent(cell, cvec) AS (
      {cent_branches}
    ),
    assigned AS (
      SELECT vec_id, embedding,
             CAST(CASE {assign_case} END AS BIGINT) AS cell
      FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id, a.embedding, a.cell,
             CAST(FLOOR({duck_cosine('a.embedding', 'c.cvec')} * 1000000
                        + 0.5) AS BIGINT) AS cos_c_micro
      FROM assigned a JOIN cent c ON c.cell = a.cell
    )
    SELECT a.vec_id, a.cell, a.cos_c_micro,
           NOT EXISTS (
             SELECT 1 FROM scored b
             WHERE b.cell = a.cell AND {_SEM_BETTER}
               AND {duck_cosine('a.embedding', 'b.embedding')}
                   >= {SEM_THRESHOLD}
           ) AS kept,
           (SELECT CAST(k AS BIGINT) FROM pick) AS n_cells
    FROM scored a
    ORDER BY vec_id
    """


@query(
    "dedup_semantic_cluster_scaled",
    oracle=_build_scaled_cluster_oracle(),
    tags=("llm", "dedup", "similarity"),
)
def dedup_semantic_cluster_scaled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup with the SCALE-AWARE cell count (r9 VERDICT task #1):
    identical keep/drop semantics to ``dedup_semantic_cluster``
    (single-sourced ``_semantic_scored``/``_semantic_dropped`` — cosine
    ≥ 0.45 within a cell, keep the least-central member), but the
    quantizer size is ``semantic_cells_for(N)`` resolved from the
    corpus's own row count: cells ∝ N/32, so candidate volume stays
    ≈ N·32 (linear) instead of N²/16, and granularity tracks density —
    the paper's own regime (arXiv:2303.09540 uses ~100k clusters at web
    scale). Gate-trained rungs are baked for the sizes the test scales
    reach (16 for N ∈ (256,512], 64 for N ∈ (1024,2048]); any other N
    fails LOUDLY on both engines (ValueError here, error() in the
    oracle) rather than silently running the wrong granularity.
    ``dedup_semantic_cell_sweep`` is the measured recall/volume row
    backing the formula."""
    t = load_tables(spark, sf_dir, "embeddings")
    n = t.embeddings.count()
    k = S.semantic_cells_for(n, _SEM_TARGET_POP)
    if k not in _SCALED_RUNGS:
        raise ValueError(
            f"dedup_semantic_cluster_scaled: corpus size {n} resolves to "
            f"an unbaked {k}-cell quantizer rung — train and bake it "
            f"(gate-pinned) before registering this scale"
        )
    scored = _semantic_scored(spark, sf_dir, n_cells=k)
    dropped = _semantic_dropped(_semantic_candidates(scored))
    return (
        scored.join(dropped.withColumn("hit", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "cos_c_micro",
            F.coalesce(~F.col("hit"), F.lit(True)).alias("kept"),
            F.lit(k).cast("long").alias("n_cells"),
        )
        .orderBy("vec_id")
    )


# Planted-near-dup SemDeDup recall (r10 VERDICT task #1): the r10 cell
# sweep proved candidate-volume LINEARITY of the scaled cell count, but
# its recall column is measured on synthetic embeddings that do not
# cluster semantically, so recall falls monotonically with cells
# (229‰ → 111‰) and the sweep cannot show the operating point SemDeDup's
# regime (arXiv:2303.09540: near-dups are ε-perturbations of shared
# content) actually buys. This wave PLANTS that regime deterministically
# in BOTH engines, derived from the embeddings table itself: every
# vec_id ≡ 0 (mod 10) base spawns 3 replicas, replica j scaling
# dimension j−1 by ×1.25 (within-cluster cosine ≈ 0.999 ≥ the 0.45
# threshold — measured, every planted pair is in the exact truth at all
# three sfs). The sweep below then measures, per quantizer size, recall
# over PLANTED pairs (true near-dups) separately from overall truth
# recall (dominated by the organic random-cosine pairs the r10 sweep
# measured): at the `semantic_cells_for(N)` rung, planted recall stays
# ≥ ~900‰ (measured: 970/1000/946‰ at sf0.001/0.01/0.1) while candidate
# volume stays well under 32·N — the missing half of the r9/r10
# evidence. Fixture generator: tools/gen_planted_fixture.py; schema:
# FIXTURES.md §4.
_PLANTED_STRIDE = 10


_PLANTED_REPS = 3


_PLANTED_FACTOR = 1.25


_PLANTED_ID_BASE = 1_000_000


#: swept quantizer sizes: 16 = the r9 fixed pin, 32/128 = the
#: semantic_cells_for rungs the planted corpus sizes (650 / 2600) hit.
_PLANTED_SWEEP = (16, 32, 128)


def planted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted-near-dup corpus: base embeddings (widened to double)
    plus, for every base with ``vec_id % 10 == 0``, replicas j = 1..3
    with dimension j−1 scaled ×1.25. Replica id = 1_000_000 +
    base·100 + j, so ``base_key = (id − 1_000_000) // 100 if id ≥ 10^6
    else id`` recovers the planted cluster. Both engines derive the
    corpus from the same expression (Spark ``F.transform`` with 0-based
    index; DuckDB indexed lambda, 1-based) — identical IEEE doubles, no
    side files."""
    emb = load_tables(spark, sf_dir, "embeddings").embeddings
    js = spark.range(1, _PLANTED_REPS + 1).select(
        F.col("id").cast("int").alias("j")
    )
    reps = (
        emb.filter(F.col("vec_id") % _PLANTED_STRIDE == 0)
        .crossJoin(F.broadcast(js))
        .select(
            (
                F.lit(_PLANTED_ID_BASE)
                + F.col("vec_id") * 100
                + F.col("j")
            )
            .cast("long")
            .alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(
                    i == F.col("j") - 1,
                    x.cast("double") * F.lit(_PLANTED_FACTOR),
                ).otherwise(x.cast("double")),
            ).alias("embedding"),
        )
    )
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    return base.unionByName(reps)


_PLANTED_CORPUS_SQL = f"""corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
      FROM embeddings
      UNION ALL
      SELECT {_PLANTED_ID_BASE} + e.vec_id * 100 + j.j AS vec_id,
             list_transform(CAST(e.embedding AS DOUBLE[]),
                            (x, i) -> CASE WHEN i = j.j
                                      THEN x * {_PLANTED_FACTOR}
                                      ELSE x END) AS embedding
      FROM embeddings e
      CROSS JOIN (SELECT UNNEST([{", ".join(str(j) for j in range(1, _PLANTED_REPS + 1))}]) AS j) j
      WHERE e.vec_id % {_PLANTED_STRIDE} = 0
    )"""


_BASE_KEY_SQL = (
    "CASE WHEN {id} >= " + str(_PLANTED_ID_BASE) + " THEN ({id} - "
    + str(_PLANTED_ID_BASE) + ") // 100 ELSE {id} END"
)


@query(
    "dedup_semantic_recall_planted",
    oracle=_build_cell_sweep_oracle(
        _PLANTED_SWEEP, (_PLANTED_CORPUS_SQL, _BASE_KEY_SQL)
    ),
    tags=("llm", "dedup", "eval"),
)
def dedup_semantic_recall_planted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup recall where true near-dups actually exist (r10 VERDICT
    task #1): the cell sweep re-run on the planted-near-dup corpus
    (``planted_embeddings`` — every 10th base + 3 deterministic ×1.25
    single-dimension replicas, within-cluster cosine ≈ 0.999), with
    recall over PLANTED pairs reported beside overall truth recall. The
    r10 sweep's falling recall column (229‰ → 111‰) measured organic
    random-cosine pairs on non-clustering noise; here the planted
    column shows the paper's operating point: at the recommended
    ``semantic_cells_for(N)`` rung the ε-perturbation clusters land in
    one cell (planted recall ≥ ~900‰ at every sf) while candidate
    volume stays under 32·N — linearity and recall TOGETHER. Truth side
    is the blocked numpy tile sweep (exact all-pairs BY DESIGN); the
    counting side never leaves vec_id/cell-keyed equi-joins; quantizers
    are the gate-trained k-means family (train-once-apply-at-any-scale,
    so each size matches its centroid-literal oracle at every sf)."""
    from ..operators.scale import fan_out

    # r12: fan_out — the three quantizer applies below are the expensive
    # per-row stages and the derived corpus otherwise inherits the single
    # small-file scan split (no-op at production split counts)
    corpus = fan_out(planted_embeddings(spark, sf_dir), key="vec_id")
    key_a = _BASE_KEY_SQL.format(id="va")
    key_b = _BASE_KEY_SQL.format(id="vb")
    # the truth side collects every corpus row anyway — reuse its count
    # instead of paying a separate corpus.count() job (r12, guide §5)
    truth_df, n_vec = S.exact_cosine_pairs_n(corpus, SEM_THRESHOLD)
    truth = (
        truth_df
        .select(
            F.col("id_a").alias("va"),
            F.col("id_b").alias("vb"),
        )
        .withColumn(
            "planted",
            F.expr(key_a.replace("//", "div")) == F.expr(
                key_b.replace("//", "div")
            ),
        )
    )
    return _cell_sweep(spark, corpus, truth, n_vec, _PLANTED_SWEEP)
