"""Similarity evaluation: ANN and truncation recall, kNN label accuracy,
binary quantization recall, JL distortion and cell label purity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .fragments import (
    SEM_CELLS,
    duck_cosine,
    duck_dot,
    gate_ivf_centroids,
    lit_vec,
    oracle_ivf_centroids,
    semantic_scored_sql,
)
from .registry import query
from .similarity import duck_ivf_probe


def _build_ivf_recall_oracle() -> str | None:
    """DuckDB replay of the recall evaluation: the exact brute-force top-10
    and the IVF(nprobe=4) top-10 recomputed independently (same centroid
    literals, same (cosine DESC, vec_id) total order as the two queries they
    mirror), intersected. Returns None when the gate parquet is absent."""
    C = oracle_ivf_centroids(n_cells=16, iters=8)
    if C is None:
        return None
    return f"""
    WITH {duck_ivf_probe(C, 4)},
    appr AS (
      SELECT vec_id FROM (
        SELECT a.vec_id, {duck_cosine('a.embedding', 'q.qvec')} AS cosine_sim
        FROM assigned a, q
        WHERE a.ivf_cell IN (SELECT cell FROM probed) AND a.vec_id <> 0
      ) ORDER BY cosine_sim DESC, vec_id LIMIT 10
    ),
    exact AS (
      SELECT vec_id FROM (
        SELECT e.vec_id, {duck_cosine('e.embedding', 'q.qvec')} AS cosine_sim
        FROM embeddings e, q WHERE e.vec_id <> 0
      ) ORDER BY cosine_sim DESC, vec_id LIMIT 10
    )
    SELECT CAST(10 AS BIGINT) AS k, CAST(4 AS BIGINT) AS nprobe,
           CAST(COUNT(*) AS BIGINT) AS n_overlap,
           CAST(COUNT(*) * 100000 AS BIGINT) AS recall_micro
    FROM exact JOIN appr USING (vec_id)
    """


@query(
    "similarity_ann_recall_eval",
    oracle=_build_ivf_recall_oracle(),
    tags=("llm", "similarity", "approx", "eval"),
)
def similarity_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against exact brute-force ground truth —
    the evaluation harness a pipeline runs BEFORE trusting an ANN index at
    scale (recall is the accuracy knob nprobe trades against cost; the
    standard methodology of the FAISS/ScaNN benchmark suites). Composes the
    two registered retrieval paths verbatim: exact cosine top-10
    (broadcast + TakeOrdered) ∩ IVF nprobe=4 top-10 (gate-pinned
    quantizer), both already bit-exact against their own oracles, joined on
    vec_id (two 10-row relations — the join is trivially broadcast). Output
    is a single row (k, nprobe, n_overlap, recall_micro), all BIGINT:
    recall_micro = n_overlap·1e6/k computed in exact integers. Scale: both
    inputs are k-bounded TakeOrdereds, so the evaluation costs two corpus
    scans regardless of corpus size (at 100 TB the ground-truth side runs
    once over a fixed query sample and is amortized across index tunings)."""
    t = load_tables(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(t.embeddings, query_id=0, k=10).select("vec_id")
    appr = S.ann_ivf_topk(
        t.embeddings, query_id=0, k=10, centroids=gate_ivf_centroids(),
    ).select("vec_id")
    hits = exact.join(appr, "vec_id")
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap")
    ).select(
        F.lit(10).cast("long").alias("k"),
        F.lit(4).cast("long").alias("nprobe"),
        F.col("n_overlap"),
        (F.col("n_overlap") * F.lit(100_000)).cast("long").alias("recall_micro"),
    )


_TRUNC_D = 32


@query(
    "similarity_truncated_recall_eval",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    exact AS (
      SELECT vec_id FROM (
        SELECT e.vec_id, {duck_cosine('e.embedding', 'q.qvec')} AS s
        FROM embeddings e, q WHERE e.vec_id <> 0
      ) ORDER BY s DESC, vec_id LIMIT 10
    ),
    tr AS (
      SELECT vec_id FROM (
        SELECT e.vec_id,
               {duck_cosine(f'list_slice(e.embedding, 1, {_TRUNC_D})', f'list_slice(q.qvec, 1, {_TRUNC_D})')} AS s
        FROM embeddings e, q WHERE e.vec_id <> 0
      ) ORDER BY s DESC, vec_id LIMIT 10
    )
    SELECT CAST(10 AS BIGINT) AS k, CAST({_TRUNC_D} AS BIGINT) AS d_trunc,
           CAST(COUNT(*) AS BIGINT) AS n_overlap,
           CAST(COUNT(*) * 100000 AS BIGINT) AS recall_micro
    FROM exact JOIN tr USING (vec_id)
    """,
    tags=("llm", "similarity", "eval"),
)
def similarity_truncated_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of HALF-dimension cosine retrieval against the full-
    dimension ground truth — the dimension-truncation quality check behind
    matryoshka-style embedding serving (Kusupati et al. 2022: store/search
    a prefix of the vector, re-rank with the full one; this measures what
    the prefix alone loses). Same harness shape as
    similarity_ann_recall_eval: two k-bounded TakeOrdereds (the truncated
    side slices the array in-plan — at scale the prefix column is what you
    persist, cutting vector I/O and cache footprint 2×), a 10×10 broadcast
    join, exact-integer recall. No trained state — the oracle is pure SQL
    over the same slices with the same fold order and tie-breaks."""
    t = load_tables(spark, sf_dir, "embeddings")
    emb = t.embeddings
    q_full = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    exact = (
        emb.crossJoin(F.broadcast(q_full))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", S.cosine(F.col("embedding"), F.col("qvec")).alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    trunc = (
        emb.crossJoin(F.broadcast(q_full))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            S.cosine(
                F.slice(F.col("embedding"), 1, _TRUNC_D),
                F.slice(F.col("qvec"), 1, _TRUNC_D),
            ).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    return exact.join(trunc, "vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap")
    ).select(
        F.lit(10).cast("long").alias("k"),
        F.lit(_TRUNC_D).cast("long").alias("d_trunc"),
        F.col("n_overlap"),
        (F.col("n_overlap") * F.lit(100_000)).cast("long").alias("recall_micro"),
    )


@query(
    "similarity_knn_label_accuracy",
    oracle=f"""
    WITH scored AS (
      SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
             e.label AS nlabel,
             {duck_cosine('e.embedding', 'p.embedding')} AS cs
      FROM embeddings e, embeddings p
      WHERE p.vec_id < 50 AND e.vec_id <> p.vec_id
    ), topk AS (
      SELECT probe_id, nlabel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                     ORDER BY cs DESC, neighbor_id) AS rnk
        FROM scored) WHERE rnk <= 10
    ), votes AS (
      SELECT probe_id, nlabel, COUNT(*) AS v FROM topk GROUP BY 1, 2
    ), pred AS (
      SELECT probe_id, nlabel AS plabel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                     ORDER BY v DESC, nlabel) AS r
        FROM votes) WHERE r = 1
    )
    SELECT CAST(t.label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN p.plabel = t.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(FLOOR(1000.0 * SUM(CASE WHEN p.plabel = t.label
                                        THEN 1 ELSE 0 END) / COUNT(*))
                AS BIGINT) AS acc_permille
    FROM embeddings t JOIN pred p ON p.probe_id = t.vec_id
    WHERE t.vec_id < 50
    GROUP BY t.label ORDER BY t.label
    """,
    tags=("llm", "similarity", "eval"),
)
def similarity_knn_label_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-space label coherence: leave-one-out 10-NN majority-vote
    accuracy over a fixed 50-probe eval sample, reported per true label —
    the standard "is this embedding column any good for retrieval"
    screen (low coherence on one label = that class collapsed in the
    encoder). Deterministic end-to-end: cosine ties break by neighbor id,
    vote ties by smaller label; the cosine fold is the same expression
    the knn oracle already replays bit-exactly.

    Plan: probes broadcast against ONE corpus scan (the knn_join shape —
    TakeOrdered per probe, never a global sort), neighbor labels join on
    the corpus key, then two tiny keyed aggs (votes: ≤ probes×labels
    rows; report: ≤ labels rows). Eval cost is probes × corpus at any
    scale — the eval sample is the knob, not the corpus."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "embeddings")
    emb = t.embeddings
    probes = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    knn = S.knn_join(emb, probes, k=10)
    nb = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    votes = (
        knn.join(nb, "neighbor_id")
        .groupBy("probe_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("v"), F.asc("nlabel"))
    pred = (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("probe_id", F.col("nlabel").alias("plabel"))
    )
    truth = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("probe_id"), "label"
    )
    correct = F.sum(
        F.when(F.col("plabel") == F.col("label"), 1).otherwise(0)
    )
    return (
        truth.join(pred, "probe_id")
        .groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            correct.cast("long").alias("n_correct"),
            F.floor(1000.0 * correct / F.count(F.lit(1)))
            .cast("long")
            .alias("acc_permille"),
        )
        .orderBy("label")
    )


# Wave 11 — binary (sign) embedding quantization with Hamming re-ranking
# recall: the 32x-compression trick modern vector stores ship (1 bit per
# dimension; Hamming distance on packed words approximates angular
# distance — Charikar 2002's SimHash bound is the theory). The 64-dim
# test embeddings pack into exactly two 32-bit halves carried as BIGINTs
# (one 64-bit word would trip DuckDB's checked 1<<63 overflow — same
# arithmetic, two lanes). This evals recall@10 of the binary index
# against exact cosine, per query — the go/no-go table before shipping
# binary quantization.
_BQ_QUERIES = 10


_BQ_K = 10


def _duck_sig(expr: str) -> str:
    """MSB-first sign-bit fold of a 32-slot float list into a BIGINT."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({expr}, x -> CAST(CASE WHEN x > 0 THEN 1 ELSE 0 "
        f"END AS BIGINT))), (acc, b) -> acc * 2 + b)"
    )


def _build_bq_oracle() -> str:

    ham = (
        "bit_count(xor(sq.h1, sc.h1)) + bit_count(xor(sq.h2, sc.h2))"
    )
    return f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id < {_BQ_QUERIES}
    ),
    c AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {_BQ_QUERIES}
    ),
    ex AS (
      SELECT q.qid, c.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
               CAST(ROUND({duck_cosine('c.embedding', 'q.qv')} * 1000000)
                 AS BIGINT) DESC, c.vec_id) AS r
      FROM c, q
    ),
    ext AS (SELECT qid, vec_id FROM ex WHERE r <= {_BQ_K}),
    sigs AS (
      SELECT vec_id, {_duck_sig('embedding[1:32]')} AS h1,
             {_duck_sig('embedding[33:64]')} AS h2
      FROM embeddings
    ),
    bq AS (
      SELECT q.qid, c.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY {ham}, c.vec_id)
               AS r
      FROM c JOIN sigs sc ON sc.vec_id = c.vec_id
      CROSS JOIN q JOIN sigs sq ON sq.vec_id = q.qid
    ),
    bt AS (SELECT qid, vec_id FROM bq WHERE r <= {_BQ_K})
    SELECT e.qid AS query_id,
           CAST(COUNT(b.vec_id) AS BIGINT) AS n_common,
           CAST(100 * COUNT(b.vec_id) AS BIGINT) AS recall_permille
    FROM ext e LEFT JOIN bt b ON b.qid = e.qid AND b.vec_id = e.vec_id
    GROUP BY e.qid ORDER BY query_id"""


@query(
    "embedding_binary_quantize_recall",
    oracle=_build_bq_oracle(),
    tags=("llm", "similarity", "eval"),
)
def embedding_binary_quantize_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@10 of sign-bit (binary) embedding quantization vs exact
    cosine, per query vector (vec_id < 10 = the bounded query set): pack
    each 64-dim vector's sign bits into two 32-bit words, rank candidates
    by Hamming distance (bit_count of XOR — tie-break vec_id), intersect
    with the exact cosine top-10. The acceptance table for shipping a
    32x-smaller index (Charikar 2002 gives the angle↔Hamming bound; this
    measures it on the actual corpus).

    Plan, 100 TB-first: signatures are a map-side projection (two integer
    folds per vector — at production width, w words per vector); both
    rankings are per-query windows over a broadcast query set; the
    Hamming scan is the brute-force baseline posture of
    similarity_cosine_topk (the production swap is the IVF/LSH-bucketed
    variants already in operators/similarity.py, with Hamming as the
    cheap re-rank)."""
    from pyspark.sql import Window

    from ..operators.similarity import cosine

    embs = load_tables(spark, sf_dir, "embeddings").embeddings

    def sig(lo: int) -> F.Column:
        return F.aggregate(
            F.slice(F.col("embedding"), lo, 32),
            F.lit(0).cast("long"),
            lambda acc, x: acc * 2 + F.when(x > 0, 1).otherwise(0),
        )

    sigs = embs.select(
        "vec_id", sig(1).alias("h1"), sig(33).alias("h2")
    )
    q = embs.filter(F.col("vec_id") < _BQ_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    c = embs.filter(F.col("vec_id") >= _BQ_QUERIES)

    wq = Window.partitionBy("qid")
    ex = (
        c.crossJoin(F.broadcast(q))
        .select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qv")) * 1_000_000)
            .cast("long")
            .alias("cos_micro"),
        )
        .withColumn(
            "r",
            F.row_number().over(
                wq.orderBy(F.col("cos_micro").desc(), "vec_id")
            ),
        )
        .filter(F.col("r") <= _BQ_K)
        .select("qid", "vec_id")
    )
    qs = q.select("qid").join(
        sigs.withColumnRenamed("vec_id", "qid"), "qid"
    ).select("qid", F.col("h1").alias("qh1"), F.col("h2").alias("qh2"))
    bt = (
        c.select("vec_id")
        .join(sigs, "vec_id")
        .crossJoin(F.broadcast(qs))
        .select(
            "qid",
            "vec_id",
            (
                F.bit_count(F.col("h1").bitwiseXOR(F.col("qh1")))
                + F.bit_count(F.col("h2").bitwiseXOR(F.col("qh2")))
            ).alias("ham"),
        )
        .withColumn(
            "r", F.row_number().over(wq.orderBy("ham", "vec_id"))
        )
        .filter(F.col("r") <= _BQ_K)
        .select("qid", F.col("vec_id").alias("bvec"))
    )
    return (
        ex.join(
            bt, (ex.qid == bt.qid) & (ex.vec_id == bt.bvec), "left"
        )
        .groupBy(ex.qid.alias("query_id"))
        .agg(
            F.count(bt.bvec).cast("long").alias("n_common"),
            (F.lit(100) * F.count(bt.bvec)).cast("long").alias("recall_permille"),
        )
        .orderBy("query_id")
    )


# Johnson-Lindenstrauss distortion audit (JL 1984; Achlioptas 2003's
# ±1 database-friendly projections) — measures what the cheap
# dimensionality reduction actually does to pairwise distances BEFORE a
# pipeline adopts it for ANN prefiltering: project 64-dim embeddings to
# k=16 with a deterministic ±1 sign matrix (import-time literals, the
# centroid-literal convention), compute the squared-distance ratio
# (d_proj^2/k) / d^2 per sampled pair, and histogram the milli-ratios.
# Pair sample = consecutive even/odd vec_ids (deterministic, linear).
# The difference-vector formulation (project a-b once) is used in BOTH
# engines so the fold order and roundings are identical.
_JL_K = 16


_JL_DIM = 64


_JL_P = (1 << 31) - 1


def _jl_sign(j: int, i: int) -> int:
    h = (0x9E3779B1 * (j * _JL_DIM + i + 1) + 0x85EBCA77) % _JL_P
    return 1 if h % 2 == 1 else -1


#: k x dim ±1 matrix as python literals shared by both engines.
_JL_R = [[float(_jl_sign(j, i)) for i in range(_JL_DIM)] for j in range(_JL_K)]


def _build_jl_oracle() -> str:

    dvec = (
        "list_transform(list_zip(a.embedding, b.embedding), "
        "s -> CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
    )
    proj_sq = " + ".join(
        f"({duck_dot('dv', lit_vec(r))}) * ({duck_dot('dv', lit_vec(r))})"
        for r in _JL_R
    )
    return f"""
    WITH pairs AS (
      SELECT {dvec} AS dv
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id % 2 = 0
    ),
    ratios AS (
      SELECT CAST(FLOOR(1000.0 * (({proj_sq}) / {_JL_K})
                        / ({duck_dot('dv', 'dv')}) + 0.5) AS BIGINT)
               AS ratio_milli
      FROM pairs
      WHERE {duck_dot('dv', 'dv')} > 0
    )
    SELECT CAST(ratio_milli // 100 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM ratios GROUP BY 1 ORDER BY 1
    """


@query(
    "embedding_jl_distortion_audit",
    oracle=_build_jl_oracle(),
    tags=("llm", "similarity", "eval"),
)
def embedding_jl_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-distortion histogram of a ±1 JL projection 64 -> 16
    (Achlioptas 2003): per deterministic even/odd vec_id pair, the ratio
    (d_proj^2/k) / d^2 milli-floored and bucketed 0.1-wide. A ratio of
    1000 is distortion-free; the histogram width IS the measured epsilon
    a pipeline accepts when prefiltering ANN candidates at k=16. All
    arithmetic is identical doubles from the shared difference-vector
    formulation + integer bucketing; zero-distance pairs (exact
    duplicate vectors exist in this corpus) are excluded in both
    engines. Plan: one self-join on an arithmetic key (no shuffle skew
    — consecutive ids), 16 literal dots per pair, 11-bucket aggregate."""
    t = load_tables(spark, sf_dir, "embeddings")
    emb = t.embeddings.select("vec_id", "embedding")
    a = emb.alias("a")
    b = emb.alias("b")
    dv = F.zip_with(
        F.col("a.embedding"),
        F.col("b.embedding"),
        lambda x, y: x.cast("double") - y.cast("double"),
    )
    pairs = (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .filter(F.col("a.vec_id") % 2 == 0)
        .select(dv.alias("dv"))
    )
    # r13: one-parse literals for the 16×64 ±1 rows — F.lit(list) marshals
    # per element through py4j at plan-build time (the r12 litexpr class;
    # this site was missed), and each row is referenced twice below.
    from ..operators.litexpr import lit_doubles

    jl_rows = [lit_doubles(r) for r in _JL_R]
    proj_sq = sum(
        (S.dot(F.col("dv"), r) * S.dot(F.col("dv"), r) for r in jl_rows),
        F.lit(0.0),
    )
    d2 = S.dot(F.col("dv"), F.col("dv"))
    ratios = (
        pairs.filter(d2 > 0)
        .select(
            F.floor(F.lit(1000.0) * (proj_sq / _JL_K) / d2 + F.lit(0.5))
            .cast("long")
            .alias("ratio_milli")
        )
    )
    return (
        ratios.select(idiv_col(F.col("ratio_milli"), F.lit(100)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("bucket")
    )


# IVF cell label purity (the clustering-evaluation classic: majority
# share + Gini impurity per cluster against an external label) — the
# quantizer-quality audit the ANN family was missing: recall evals say
# whether neighbors are FOUND, purity says whether the cells MEAN
# anything w.r.t. the labels the corpus carries. Integer counts; Gini
# = 1 - sum((n_l/n)^2) as one exact-rational permille floor.
@query(
    "embedding_cell_label_purity",
    oracle=f"""
    WITH {{scored_sql}},
    cl AS (
      SELECT a.cell, e.label, CAST(COUNT(*) AS BIGINT) AS n_l
      FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
      GROUP BY a.cell, e.label
    ),
    per AS (
      SELECT cell, CAST(SUM(n_l) AS BIGINT) AS n,
             CAST(MAX(n_l) AS BIGINT) AS n_major,
             CAST(SUM(n_l * n_l) AS BIGINT) AS sum_sq,
             CAST(COUNT(*) AS BIGINT) AS n_labels
      FROM cl GROUP BY cell
    )
    SELECT cell, n, n_labels,
           CAST(1000 * n_major // n AS BIGINT) AS majority_permille,
           CAST((1000 * n * n - 1000 * sum_sq) // (n * n) AS BIGINT)
             AS gini_permille
    FROM per ORDER BY cell
    """.format(scored_sql=semantic_scored_sql()),
    tags=("llm", "similarity", "eval"),
)
def embedding_cell_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-IVF-cell label purity: majority-label share and Gini impurity
    (permille) against the embeddings' label column — the external-
    validity audit of the same gate-pinned quantizer the ANN and
    SemDeDup queries ride. Cell assignment is the shared map-side argmax
    projection; everything after is one (cell, label) count and
    cell-dimension arithmetic. Exact integer floors; majority ties
    resolve identically in both engines because MAX over counts is
    tie-free by value."""
    t = load_tables(spark, sf_dir, "embeddings")

    cents = gate_ivf_centroids(n_cells=SEM_CELLS)
    if cents is None:
        cents = S.ivf_centroids(t.embeddings, n_cells=SEM_CELLS)
    assigned = t.embeddings.select(
        "vec_id", "label", S.ivf_cell_expr(cents).alias("cell")
    )
    cl = assigned.groupBy("cell", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n_l")
    )
    per = cl.groupBy("cell").agg(
        F.sum("n_l").cast("long").alias("n"),
        F.max("n_l").cast("long").alias("n_major"),
        F.sum(F.col("n_l") * F.col("n_l")).cast("long").alias("sum_sq"),
        F.count(F.lit(1)).cast("long").alias("n_labels"),
    )
    return per.select(
        "cell",
        "n",
        "n_labels",
        idiv_col(F.lit(1000) * F.col("n_major"), F.col("n")).alias(
            "majority_permille"
        ),
        idiv_col(
            F.lit(1000) * F.col("n") * F.col("n")
            - F.lit(1000) * F.col("sum_sq"),
            F.col("n") * F.col("n"),
        ).alias("gini_permille"),
    ).orderBy("cell")
