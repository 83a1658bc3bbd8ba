"""Vector similarity: cosine top-k, kNN joins, LSH/IVF/PQ ANN, hybrid and
RRF search, whitening, MMR, hard negatives, outliers and k-center
coresets.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..operators.rounds import iterate
from ..sources.tables import load_tables
from .fragments import (
    ORACLE_SF_DIR,
    ORACLE_TRAIN,
    TOKS,
    duck_cosine,
    duck_dot,
    gate_ivf_centroids,
    ivf_cell_sql,
    lit_vec,
    oracle_ivf_centroids,
    oracle_sample,
)
from .registry import query


@query(
    "similarity_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, {duck_cosine('e.embedding', 'q.qvec')} AS cosine_sim
    FROM embeddings e, q
    WHERE vec_id <> 0
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
    tags=("llm", "similarity", "bench"),
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against a broadcast query vector."""
    t = load_tables(spark, sf_dir, "embeddings")
    return S.cosine_topk(t.embeddings, query_id=0, k=10)


@query(
    "similarity_knn_join",
    oracle=f"""
    WITH scored AS (
      SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
             {duck_cosine('e.embedding', 'p.embedding')} AS cosine_sim
      FROM embeddings e, embeddings p
      WHERE p.vec_id < 10 AND e.vec_id <> p.vec_id
    )
    SELECT probe_id, neighbor_id, cosine_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rnk
      FROM scored) WHERE rnk <= 3
    """,
    tags=("llm", "similarity"),
)
def similarity_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join: 3 nearest neighbors for each of the first 10 vectors."""
    t = load_tables(spark, sf_dir, "embeddings")
    probes = t.embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    return S.knn_join(t.embeddings, probes, k=3)


@query(
    "similarity_near_dup",
    oracle=f"""
    SELECT id_a, id_b, cosine_sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {duck_cosine('a.embedding', 'b.embedding')} AS cosine_sim
      FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
    ) WHERE cosine_sim >= 0.45
    """,
    tags=("llm", "similarity"),
)
def similarity_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.45), brute-force all-pairs."""
    t = load_tables(spark, sf_dir, "embeddings")
    return S.near_dup_pairs(t.embeddings, threshold=0.45)


def _duck_lsh_proj(p: int, vec: str) -> str:
    """DuckDB fragment: projection of ``vec`` onto hyperplane ``p`` — the
    same deterministic integer-hash weights and the same left fold as
    operators/similarity.py:_plane_weight/lsh_buckets, so the result is
    bit-identical float64 in both engines."""
    c = p * 1315423911 % 2147483647
    w = (
        f"(CAST((({c} + CAST(s[2] AS BIGINT) * 2654435761) % 2147483647) "
        f"% 2001 - 1000 AS DOUBLE) / 1000.0)"
    )
    return (
        f"list_reduce(list_prepend(0.0, list_transform("
        f"list_zip({vec}, range(CAST(len({vec}) AS BIGINT))), "
        f"s -> CAST(s[1] AS DOUBLE) * {w})), (x, y) -> x + y)"
    )


def _duck_lsh_bucket(vec: str, n_planes: int = S.N_PLANES, plane_offset: int = 0) -> str:
    """Bucket from signing planes [plane_offset, plane_offset+n_planes) —
    bit r of the bucket is plane plane_offset+r, mirroring
    similarity.lsh_buckets / banded_lsh_buckets."""
    return " + ".join(
        f"(CASE WHEN {_duck_lsh_proj(plane_offset + r, vec)} >= 0 "
        f"THEN CAST({1 << r} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for r in range(n_planes)
    )


@query(
    "similarity_ann_lsh",
    oracle=f"""
    WITH sig AS (
      SELECT vec_id, embedding, {_duck_lsh_bucket('embedding')} AS bucket
      FROM embeddings
    )
    SELECT id_a, id_b, cosine_sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {duck_cosine('a.embedding', 'b.embedding')} AS cosine_sim
      FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ) WHERE cosine_sim >= 0.3
    """,
    tags=("llm", "similarity", "approx"),
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate near-neighbor pairs via random-hyperplane LSH buckets.
    The planes are derived from a deterministic integer hash of (plane, dim),
    so the whole pipeline — signatures, bucket join, in-bucket cosine — is
    reproducible bit-for-bit in the DuckDB oracle (same weights, same fold
    order): a FULL value-hash check despite being an \"approximate\"
    operator. Recall vs brute force is additionally asserted in tests."""
    t = load_tables(spark, sf_dir, "embeddings")
    return S.ann_lsh(t.embeddings, threshold=0.3)


def _duck_banded_lsh_oracle(
    n_bands: int = S.LSH_BANDS_VEC, planes_per_band: int = S.LSH_PLANES_PER_BAND
) -> str:
    bands_union = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, CAST({b} AS BIGINT) AS band, "
        f"{_duck_lsh_bucket('embedding', planes_per_band, b * planes_per_band)} AS bucket "
        f"FROM embeddings"
        for b in range(n_bands)
    )
    return f"""
    WITH bands AS (
      {bands_union}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine_sim FROM (
      SELECT c.id_a, c.id_b,
             {duck_cosine('ea.embedding', 'eb.embedding')} AS cosine_sim
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.id_a
      JOIN embeddings eb ON eb.vec_id = c.id_b
    ) WHERE cosine_sim >= 0.3
    """


@query(
    "similarity_ann_lsh_banded",
    oracle=_duck_banded_lsh_oracle(),
    tags=("llm", "similarity", "approx"),
)
def similarity_ann_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-band hyperplane LSH (8 bands × 5 planes): the recall-lifted
    scale path over the single-band `similarity_ann_lsh` — union of per-band
    bucket joins, distinct candidates, exact-cosine verification of
    candidates only. Deterministic planes ⇒ the DuckDB oracle replays the
    identical banding bit-for-bit (full value-hash check). Recall floor vs
    brute force is pinned in tests/test_llm_ops.py::TestLshRecall."""
    t = load_tables(spark, sf_dir, "embeddings")
    return S.ann_lsh_banded(t.embeddings, threshold=0.3)


def oracle_pq_codebooks(m: int = 8, ksub: int = 16):
    """Memoized per-subspace PQ codebooks over :func:`oracle_sample` (same
    degenerate-data → None contract as :func:`oracle_ivf_centroids`)."""
    key = ("pq", m, ksub)
    if key not in ORACLE_TRAIN:
        X = oracle_sample()
        try:
            ORACLE_TRAIN[key] = (
                None if X is None else S.pq_codebooks_from_sample(X, m, ksub)
            )
        except Exception:
            ORACLE_TRAIN[key] = None
    return ORACLE_TRAIN[key]


def duck_ivf_probe(C, nprobe: int) -> str:
    """IVF probe CTEs over centroids ``C``: the query vector ``q`` (vec_id
    0), the centroid literals ``cent``, the ``probed`` top-``nprobe`` cells
    by query cosine and every vector's ``assigned`` ivf_cell."""
    cent_values = ",\n      ".join(
        f"({i}, {lit_vec(C[i])}::DOUBLE[])" for i in range(len(C))
    )
    return f"""q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    cent(cell, cvec) AS (VALUES
      {cent_values}),
    probed AS (
      SELECT cell FROM (
        SELECT c.cell, {duck_cosine('q.qvec', 'c.cvec')} AS cs FROM cent c, q
      ) ORDER BY cs DESC, cell LIMIT {nprobe}
    ),
    assigned AS (
      SELECT vec_id, embedding,
             {ivf_cell_sql(C, 'ivf_cell')}
      FROM embeddings
    )"""


def _pq_sql_parts(cbs) -> tuple[list[str], str]:
    """(code column exprs, ADC sum expr) for a PQ codebook set — shared by
    _build_pq_oracle and _build_ivf_pq_oracle (the bit-exact encoding SQL
    must be single-sourced)."""
    m, dsub = len(cbs), len(cbs[0][0])

    def sub(vec: str, s: int) -> str:
        return f"list_slice({vec}, {s * dsub + 1}, {(s + 1) * dsub})"

    def l2(sub_expr: str, cvec) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(list_zip({sub_expr}, "
            f"{lit_vec(cvec)}), p -> (CAST(p[1] AS DOUBLE) - p[2]) * "
            f"(CAST(p[1] AS DOUBLE) - p[2]))), (x, y) -> x + y)"
        )

    code_cols = []
    for s in range(m):
        structs = ", ".join(
            "{'negdist': -(" + l2(sub("embedding", s), cvec)
            + f"), 'negcode': CAST({-c} AS BIGINT)}}"
            for c, cvec in enumerate(cbs[s])
        )
        code_cols.append(
            f"CAST(-(list_aggregate([{structs}], 'max').negcode) AS BIGINT) AS code_{s}"
        )
    lut_terms = []
    for s in range(m):
        luts = ", ".join(duck_dot(sub("q.qvec", s), lit_vec(cvec)) for cvec in cbs[s])
        lut_terms.append(f"list_extract([{luts}], CAST(a.code_{s} + 1 AS INTEGER))")
    return code_cols, " + ".join(lut_terms)


def _build_ivf_oracle() -> str | None:
    """DuckDB oracle for similarity_ann_ivf, built at import time.

    The IVF quantizer is spherical k-means — not SQL-expressible bit-exactly
    (in-group float summation order is engine-arbitrary) — but it is a pure
    deterministic function of the corpus: DuckDB selects the SAME sample the
    Spark operator does (smallest (char_fold(md5(id)), id) keys — the
    engine-portable hash), the shared numpy routine (similarity.ivf_kmeans)
    turns it into centroids, and those enter the SQL as literals. Everything
    downstream — cell assignment argmax (incl. the smaller-cell tie-break via
    struct max over (sim, -cell)), nprobe cell ranking, probed-cells-only
    cosine top-k — is recomputed independently by DuckDB with the same fold
    order, so the driver's value hash matches bit-for-bit. Returns None (→
    rows-only check, the pre-round-3 status) if the gate's parquet is absent.
    """
    C = oracle_ivf_centroids(n_cells=16, iters=8)
    if C is None:
        return None
    return f"""
    WITH {duck_ivf_probe(C, 4)}
    SELECT vec_id, ivf_cell, cosine_sim FROM (
      SELECT a.vec_id, a.ivf_cell, {duck_cosine('a.embedding', 'q.qvec')} AS cosine_sim
      FROM assigned a, q
      WHERE a.ivf_cell IN (SELECT cell FROM probed) AND a.vec_id <> 0
    ) ORDER BY cosine_sim DESC, vec_id LIMIT 10
    """


def _build_pq_oracle(m: int = 8, ksub: int = 16, refine: int = 50, k: int = 10) -> str | None:
    """DuckDB oracle for similarity_ann_pq, built at import time like
    _build_ivf_oracle: DuckDB re-selects the portable-hash training sample,
    the shared numpy routine (similarity.pq_codebooks_from_sample) turns it
    into per-subspace codebooks, and the SQL — with codebooks as literals —
    re-encodes every vector (argmin-L2 via the struct-max trick), computes
    the ADC score against LUT expressions over the query vector from the
    view, takes the `refine` best, exact-cosine re-ranks, keeps `k`. Same
    fold order everywhere ⇒ bit-identical float64 ⇒ identical refine set and
    final ranking."""
    cbs = oracle_pq_codebooks(m, ksub)
    if cbs is None:
        return None
    code_cols, adc = _pq_sql_parts(cbs)
    return f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    coded AS (
      SELECT vec_id, embedding, {", ".join(code_cols)} FROM embeddings
    ),
    cand AS (
      SELECT a.vec_id, a.embedding FROM coded a, q
      WHERE a.vec_id <> 0
      ORDER BY ({adc}) DESC, a.vec_id LIMIT {refine}
    )
    SELECT vec_id, cosine_sim FROM (
      SELECT c.vec_id, {duck_cosine('c.embedding', 'q.qvec')} AS cosine_sim
      FROM cand c, q
    ) ORDER BY cosine_sim DESC, vec_id LIMIT {k}
    """


def _build_ivf_pq_oracle(
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    refine: int = 50,
    k: int = 10,
) -> str | None:
    """DuckDB oracle for the composed similarity_ann_ivf_pq: both quantizers
    (IVF centroids + PQ codebooks) come from the shared numpy routines over
    the same portable-hash sample; the SQL assigns cells, prunes to the
    query's nprobe cells, PQ-encodes only the survivors, ADC-scores them
    against LUT expressions over the view's query vector, refines, and
    exact-cosine re-ranks — all with the mirrored fold order and tie-breaks,
    so the driver hash is bit-exact."""
    C = oracle_ivf_centroids(n_cells=n_cells, iters=8)
    cbs = oracle_pq_codebooks(m, ksub)
    if C is None or cbs is None:
        return None
    code_cols, adc = _pq_sql_parts(cbs)
    return f"""
    WITH {duck_ivf_probe(C, nprobe)},
    coded AS (
      SELECT vec_id, embedding, ivf_cell, {", ".join(code_cols)}
      FROM assigned
      WHERE ivf_cell IN (SELECT cell FROM probed) AND vec_id <> 0
    ),
    cand AS (
      SELECT a.vec_id, a.ivf_cell, a.embedding FROM coded a, q
      ORDER BY ({adc}) DESC, a.vec_id LIMIT {refine}
    )
    SELECT vec_id, ivf_cell, cosine_sim FROM (
      SELECT c.vec_id, c.ivf_cell, {duck_cosine('c.embedding', 'q.qvec')} AS cosine_sim
      FROM cand c, q
    ) ORDER BY cosine_sim DESC, vec_id LIMIT {k}
    """


@query(
    "similarity_ann_ivf_pq",
    oracle=_build_ivf_pq_oracle(),
    tags=("llm", "similarity", "approx"),
)
def similarity_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ top-k — the standard 100 TB ANN architecture end to
    end: coarse-cell pruning (nprobe=4 of 16), ADC scoring over 4-bit PQ
    codes inside the probed cells only, exact-cosine re-rank of the 50 best.
    Deterministic throughout ⇒ value-hash checked by the import-time-built
    oracle (_build_ivf_pq_oracle); recall/composition invariants pinned in
    tests. NOTE: oracle embeds quantizers from ORACLE_SF_DIR data — compare
    only at that sf (the local harness pins this)."""
    t = load_tables(spark, sf_dir, "embeddings")
    return S.ann_ivf_pq_topk(
        t.embeddings, query_id=0, k=10,
        centroids=gate_ivf_centroids(), codebooks=oracle_pq_codebooks(),
    )


@query("similarity_ann_pq", oracle=_build_pq_oracle(), tags=("llm", "similarity", "approx"))
def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-k (8 subspaces × 16 codes, ADC scoring,
    exact re-rank of the 50 best): the memory-side of the 100 TB ANN story —
    4-bit codes shrink a 256 B float32 vector to 4 B, the ADC pass is a pure
    projection over codes, and only the refine set touches full vectors
    (composes with IVF cell pruning as standard IVF-PQ). Deterministic
    end-to-end ⇒ value-hash checked by the import-time-built oracle
    (_build_pq_oracle) at the driver's sf; recall floor pinned in tests.
    NOTE: oracle embeds codebooks derived from ORACLE_SF_DIR data — compare
    only at that sf (the local harness pins this)."""
    t = load_tables(spark, sf_dir, "embeddings")
    return S.ann_pq_topk(
        t.embeddings, query_id=0, k=10, codebooks=oracle_pq_codebooks(),
    )


@query("similarity_ann_ivf", oracle=_build_ivf_oracle(), tags=("llm", "similarity", "approx"))
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (deterministic coarse quantizer, nprobe=4 of 16
    cells): the partition-pruning ANN scale path alongside the LSH variant.
    Despite being \"approximate\", the whole pipeline is deterministic, so the
    import-time-built DuckDB oracle value-hash checks it exactly at the
    driver's sf (see _build_ivf_oracle); recall vs brute force is asserted in
    tests. Quantizer pinned to the ORACLE_SF_DIR sample (gate_ivf_centroids), so
    the centroid-literal oracle matches at EVERY sf."""
    t = load_tables(spark, sf_dir, "embeddings")
    return S.ann_ivf_topk(
        t.embeddings, query_id=0, k=10, centroids=gate_ivf_centroids(),
    )


@query(
    "hybrid_search_rerank",
    oracle=f"""
    WITH qt AS (
      SELECT DISTINCT t.term FROM (
        SELECT unnest({TOKS}) AS term FROM documents WHERE doc_id = 0
      ) t
    ), dt AS (
      SELECT doc_id, unnest(list_distinct({TOKS})) AS term
      FROM documents WHERE doc_id <> 0
    ), cand AS (
      SELECT dt.doc_id, COUNT(*) AS n_shared_tokens
      FROM dt JOIN qt USING (term)
      GROUP BY dt.doc_id HAVING COUNT(*) >= 2
    ), qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)
    SELECT c.doc_id, c.n_shared_tokens,
           {duck_cosine("e.embedding", "qv.q")} AS cosine_sim
    FROM cand c
    JOIN embeddings e ON e.vec_id = c.doc_id, qv
    ORDER BY cosine_sim DESC, c.doc_id LIMIT 10
    """,
    tags=("llm", "similarity"),
)
def hybrid_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: lexical candidate generation (docs sharing >= 2
    distinct tokens with the query doc, via a token equi-join — shuffle
    scales with token volume, never all-pairs) followed by exact cosine
    re-ranking of the candidates against the broadcast query vector, top-10.
    The two-stage shape every production retrieval pipeline uses: cheap
    recall stage prunes, expensive precision stage only touches candidates."""
    from ..operators.similarity import cosine as _cosine
    from ..operators.text import tokens as _tokens

    t = load_tables(spark, sf_dir, "documents", "embeddings")
    toks = t.documents.select(
        "doc_id", F.explode(F.array_distinct(_tokens("text"))).alias("term")
    )
    q_terms = toks.filter(F.col("doc_id") == 0).select("term").distinct()
    cand = (
        toks.filter(F.col("doc_id") != 0)
        .join(F.broadcast(q_terms), "term")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_tokens"))
        .filter(F.col("n_shared_tokens") >= 2)
    )
    qv = t.embeddings.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    scored = (
        cand.join(
            t.embeddings.select(F.col("vec_id").alias("doc_id"), "embedding"),
            "doc_id",
        )
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            "n_shared_tokens",
            _cosine(F.col("embedding"), F.col("q")).alias("cosine_sim"),
        )
    )
    return scored.orderBy(F.col("cosine_sim").desc(), "doc_id").limit(10)


_WHITEN_K = 4


_whiten_cache: dict[str, object] = {}


def whiten_fit_np(parquet_path: str, k: int = _WHITEN_K):
    """Deterministic single-order numpy PCA fit over an embeddings parquet
    (the oracle-trainer replica of operators/embedding.fit_whiten — the
    distributed sufficient-statistic fit is float-partition-order dependent
    in the last ulp, so the REGISTERED query and its oracle share this
    driver-side fit; the distributed op is the 100 TB fitting path).
    Returns (mu, W) or None when the file is absent/degenerate."""
    key = f"{parquet_path}|{k}"
    if key not in _whiten_cache:
        # Only an ABSENT gate parquet is an expected skip (don't cache —
        # testdata may appear later in the process). Fit errors on present
        # data must propagate: swallowing them silently registers
        # oracle=None and drops the query from sweeps (r3 ADVICE #1).
        if not os.path.exists(parquet_path):
            return None
        import numpy as np
        import pyarrow.parquet as pq

        x = np.asarray(
            pq.read_table(parquet_path, columns=["embedding"])
            .column("embedding")
            .to_pylist(),
            dtype=np.float64,
        )
        if x.ndim != 2 or x.shape[0] < 2:  # degenerate gate data
            return None
        mu = x.mean(axis=0)
        xc = x - mu
        lam, vec = np.linalg.eigh(xc.T @ xc / x.shape[0])
        order = np.argsort(lam)[::-1][:k]
        lam, vec = np.maximum(lam[order], 0.0), vec[:, order]
        for j in range(vec.shape[1]):
            i = int(np.argmax(np.abs(vec[:, j])))
            if vec[i, j] < 0:
                vec[:, j] = -vec[:, j]
        w = vec / np.sqrt(lam + 1e-6)
        _whiten_cache[key] = (mu, w)
    return _whiten_cache[key]


def _duck_diff_dot(mu_lit: str, w_lit: str) -> str:
    """DuckDB fold for (embedding - mu)·w — operand types and fold order
    identical to the Spark side (zip, cast-to-double, left-to-right sum)."""
    diff = (
        f"list_transform(list_zip(embedding, {mu_lit}), "
        f"s -> CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
    )
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({diff}, {w_lit}), "
        f"s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (x, y) -> x + y)"
    )


def _build_whiten_oracle() -> str | None:
    model = whiten_fit_np(os.path.join(ORACLE_SF_DIR, "embeddings.parquet"))
    if model is None:
        return None
    mu, w = model
    mu_lit = lit_vec(mu)
    cols = ", ".join(
        f"CAST(ROUND({_duck_diff_dot(mu_lit, lit_vec(w[:, j]))} * 1000000.0) "
        f"AS BIGINT) AS y{j}"
        for j in range(w.shape[1])
    )
    return f"SELECT vec_id, {cols} FROM embeddings ORDER BY vec_id"


@query(
    "embedding_whiten_project",
    oracle=_build_whiten_oracle(),
    tags=("llm", "similarity"),
)
def embedding_whiten_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-whitening projection onto the top-4 principal directions
    (operators/embedding.py rationale): model fitted once driver-side from
    the ORACLE_SF_DIR gate corpus (numpy, deterministic — see
    whiten_fit_np; fit_whiten is the distributed-fit path), μ/W shipped as
    column literals, projection = JVM-side zip_with/aggregate folds (the
    similarity.dot contract — bit-identical to the oracle's list_reduce),
    outputs micro-rounded BIGINT. Map-only at any scale. The fit is
    PINNED to the gate corpus (train-once, apply-at-any-scale — the
    ann_ivf convention), so query and oracle agree at EVERY sf; falls
    back to the query sf's parquet only when the gate file is absent."""
    model = whiten_fit_np(os.path.join(ORACLE_SF_DIR, "embeddings.parquet"))
    if model is None:
        model = whiten_fit_np(os.path.join(sf_dir, "embeddings.parquet"))
    if model is None:
        raise FileNotFoundError(f"no embeddings parquet under {sf_dir}")
    mu, w = model
    t = load_tables(spark, sf_dir, "embeddings")
    # r13: one-parse literals (litexpr contract: folds to the bit-identical
    # IEEE double literal) — F.lit(list) marshalled the 64-d μ and the
    # 64×k W columns per element through py4j at every plan build.
    from ..operators.litexpr import lit_doubles

    mu_lit = lit_doubles(float(v) for v in mu)
    diff = F.zip_with(
        F.col("embedding"), mu_lit, lambda x, y: x.cast("double") - y.cast("double")
    )
    cols = [
        F.round(S.dot(diff, lit_doubles(float(v) for v in w[:, j])) * 1_000_000)
        .cast("long")
        .alias(f"y{j}")
        for j in range(w.shape[1])
    ]
    return t.embeddings.select("vec_id", *cols).orderBy("vec_id")


_TRIP = dict(pos=0.45, lo=0.15, hi=0.35, n_neg=3)


@query(
    "triples_hard_negatives",
    oracle=f"""
    WITH p AS (
      SELECT a.vec_id AS anchor_id, b.vec_id AS cand_id,
             {duck_cosine('a.embedding', 'b.embedding')} AS s
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ), pos AS (
      SELECT anchor_id, cand_id AS pos_id, s AS pos_sim,
             ROW_NUMBER() OVER (PARTITION BY anchor_id
                                ORDER BY s DESC, cand_id) AS rk
      FROM p WHERE s >= {_TRIP['pos']}
    ), neg AS (
      SELECT anchor_id, cand_id AS neg_id, s AS neg_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY s DESC, cand_id) AS INT) AS neg_rank
      FROM p WHERE s >= {_TRIP['lo']} AND s < {_TRIP['hi']}
    )
    SELECT pos.anchor_id, pos_id, pos_sim, neg_rank, neg_id, neg_sim
    FROM pos JOIN neg USING (anchor_id)
    WHERE pos.rk = 1 AND neg_rank <= {_TRIP['n_neg']}
    ORDER BY anchor_id, neg_rank
    """,
    tags=("llm", "similarity"),
)
def triples_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triples (operators/similarity.contrastive_triples):
    per anchor, the top positive at cos ≥ 0.45 plus the 3 hardest negatives
    in [0.15, 0.35) — the (anchor, positive, hard-negative) mining step of
    embedding-model training data. Exact all-pairs is the oracle contract
    (near_dup_pairs convention); the banded-LSH candidate swap is the
    documented scale path. Cosines are the shared JVM fold, bit-identical
    to the oracle's list_reduce."""
    t = load_tables(spark, sf_dir, "embeddings")
    return S.contrastive_triples(
        t.embeddings,
        pos_thresh=_TRIP["pos"],
        neg_lo=_TRIP["lo"],
        neg_hi=_TRIP["hi"],
        n_neg=_TRIP["n_neg"],
    ).orderBy("anchor_id", "neg_rank")


_MMR_K = 8


_MMR_POOL = 32


_MMR_LAM = 0.7


def _build_mmr_oracle(k: int = _MMR_K, pool: int = _MMR_POOL) -> str:
    """Unrolled-greedy SQL replay of the MMR selection (the PageRank
    unrolled-CTE convention): candidate scoring, the pool² pairwise-sim
    matrix, then k argmax steps. λ-products are projected as separate
    columns (t_rel / t_div) in MATERIALIZED CTEs and combined by a plain
    column subtraction so DuckDB's expression vectorizer cannot fuse a
    multiply-subtract into a single-rounding FMA (the SQ8 divergence
    class)."""
    lam, one_m = _MMR_LAM, round(1.0 - _MMR_LAM, 10)
    parts = [
        f"""WITH q AS MATERIALIZED (
      SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
    ), cands AS MATERIALIZED (
      SELECT e.vec_id AS cid, e.embedding AS emb,
             {duck_cosine('e.embedding', 'q.qe')} AS simq
      FROM embeddings e, q WHERE e.vec_id <> 0
      ORDER BY simq DESC, e.vec_id LIMIT {pool}
    ), psim AS MATERIALIZED (
      SELECT a.cid AS pa, b.cid AS pb, {duck_cosine('a.emb', 'b.emb')} AS sim
      FROM cands a JOIN cands b ON a.cid <> b.cid
    ), sel1 AS MATERIALIZED (
      SELECT cid, simq, {lam} * simq AS t_rel, CAST(0.0 AS DOUBLE) AS t_div
      FROM cands ORDER BY simq DESC, cid LIMIT 1
    ), selset1 AS (SELECT cid FROM sel1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""", sc{i} AS MATERIALIZED (
      SELECT c.cid, c.simq, {lam} * c.simq AS t_rel,
             {one_m} * (SELECT MAX(p.sim) FROM psim p
                        WHERE p.pa = c.cid
                          AND p.pb IN (SELECT cid FROM selset{i-1})) AS t_div
      FROM cands c WHERE c.cid NOT IN (SELECT cid FROM selset{i-1})
    ), sel{i} AS MATERIALIZED (
      SELECT cid, simq, t_rel, t_div FROM sc{i}
      ORDER BY t_rel - t_div DESC, cid LIMIT 1
    ), selset{i} AS (
      SELECT cid FROM selset{i-1} UNION ALL SELECT cid FROM sel{i}
    )"""
        )
    finals = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, cid AS vec_id, simq,"
        f" t_rel - t_div AS score FROM sel{i}"
        for i in range(1, k + 1)
    )
    parts.append(f"\n    SELECT * FROM ({finals}) ORDER BY rank")
    return "".join(parts)


@query("mmr_diverse_topk", oracle=_build_mmr_oracle(), tags=("llm", "similarity"))
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diverse top-k (Carbonell & Goldstein
    1998; operators/similarity.mmr_select): one distributed scan scores the
    corpus against the broadcast query vector and keeps a 32-candidate
    pool; the greedy λ·rel − (1−λ)·max-sim-to-selected selection then runs
    k tiny jobs over pool-bounded cached relations. The oracle replays the
    ENTIRE greedy in unrolled SQL (shared cosine folds, FMA-safe split
    λ-products), so the driver hash proves every pick, not just the final
    set."""
    from ..operators import similarity as _S

    emb = load_tables(spark, sf_dir, "embeddings").embeddings
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return _S.mmr_select(
        emb.filter(F.col("vec_id") != 0),
        qv,
        k=_MMR_K,
        pool=_MMR_POOL,
        lam=_MMR_LAM,
    )


# Reciprocal-rank fusion (lexical ∪ vector retrieval)
_RRF_K = 60


_RRF_POOL = 50


@query(
    "search_rrf_fusion",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+')))
               AS term
      FROM documents
    ), qterms AS (
      SELECT DISTINCT term FROM toks WHERE doc_id = 0
    ), lex AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n DESC, doc_id) AS lex_rank
      FROM (
        SELECT t.doc_id, COUNT(*) AS n
        FROM toks t JOIN qterms q USING (term)
        WHERE t.doc_id <> 0 GROUP BY t.doc_id
      ) ORDER BY n DESC, doc_id LIMIT {_RRF_POOL}
    ), qv AS (
      SELECT embedding AS q FROM embeddings WHERE vec_id = 0
    ), vec AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS vec_rank
      FROM (
        SELECT e.vec_id AS doc_id, {duck_cosine('e.embedding', 'qv.q')} AS sim
        FROM embeddings e, qv WHERE e.vec_id <> 0
      ) ORDER BY sim DESC, doc_id LIMIT {_RRF_POOL}
    ), fused AS (
      SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
             CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
             CAST(COALESCE(v.vec_rank, 0) AS BIGINT) AS vec_rank,
             COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + v.vec_rank), 0.0) AS score
      FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, lex_rank, vec_rank,
           CAST(FLOOR(score * 1000000000 + 0.5) AS BIGINT) AS rrf_nano
    FROM fused
    ORDER BY rrf_nano DESC, doc_id LIMIT 10
    """,
    tags=("llm", "similarity"),
)
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a vector ranking (the
    standard zero-tuning hybrid-retrieval combiner; Cormack et al. 2009):
    top-50 by shared-query-terms and top-50 by cosine are fused with
    ``Σ 1/(60+rank)``. Ranks come from totally-ordered (score, id) sorts;
    the two reciprocal terms are correctly-rounded double divisions added
    in a fixed order, then nano-rounded — bit-identical on every engine.
    Plan: the term join broadcasts the query's terms, the cosine scan
    broadcasts one query vector, both rankings are TakeOrdered pools, the
    fusion is a pool-bounded full-outer join."""
    from ..operators.similarity import cosine as _cosine
    from ..operators.text import tokens as _tokens
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "documents", "embeddings")
    toks = t.documents.select(
        "doc_id", F.explode(F.array_distinct(_tokens("text"))).alias("term")
    )
    q_terms = toks.filter(F.col("doc_id") == 0).select("term").distinct()
    lex = (
        toks.filter(F.col("doc_id") != 0)
        .join(F.broadcast(q_terms), "term")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "doc_id")
        .limit(_RRF_POOL)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "doc_id"))
            .cast("long")
            .alias("lex_rank"),
        )
    )
    qv = t.embeddings.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    vec = (
        t.embeddings.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            _cosine(F.col("embedding"), F.col("q")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "doc_id")
        .limit(_RRF_POOL)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("sim").desc(), "doc_id"))
            .cast("long")
            .alias("vec_rank"),
        )
    )
    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("lex_rank"), F.lit(0).cast("long")).alias("lex_rank"),
            F.coalesce(F.col("vec_rank"), F.lit(0).cast("long")).alias("vec_rank"),
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K) + F.col("vec_rank")), F.lit(0.0)
                )
            ).alias("score"),
        )
    )
    return (
        fused.select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.floor(F.col("score") * 1_000_000_000 + 0.5)
            .cast("long")
            .alias("rrf_nano"),
        )
        .orderBy(F.col("rrf_nano").desc(), "doc_id")
        .limit(10)
    )


@query(
    "embedding_outlier_centroid",
    oracle="""
    WITH m AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS xm
      FROM embeddings
    ),
    cent AS (
      SELECT pos, CAST(FLOOR(SUM(xm) * 1.0 / COUNT(*)) AS BIGINT) AS mm
      FROM m GROUP BY pos
    ),
    d AS (
      SELECT vec_id, CAST(SUM((xm - mm) * (xm - mm)) AS BIGINT) AS dist_sq
      FROM m JOIN cent USING (pos) GROUP BY vec_id
    )
    SELECT d.vec_id, d.dist_sq, CAST(e.label AS BIGINT) AS label
    FROM d JOIN embeddings e USING (vec_id)
    ORDER BY dist_sq DESC, vec_id LIMIT 20
    """,
    tags=("llm", "embedding", "similarity"),
)
def embedding_outlier_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-QA outlier audit: top-20 vectors by squared distance to
    the corpus centroid — the cheap screen for mis-embedded rows (zero
    vectors, wrong-model leftovers, OOD content) run before an embedding
    column is trusted for ANN training or retrieval eval.

    Engine-exact by integer fixed-point: components become
    floor(double(x)·1e6) BIGINT micros (float32→double is value-exact and
    the multiply is one IEEE op in both engines), the centroid is
    floor(Σ/n) per dimension (Σ < 2^53 at any tested sf, so the double
    quotient is exact to well past the floor boundary — the quotient is
    ≥ 1/n away from an integer unless exact), and distances are pure
    BIGINT sums (|diff| ~ 1e6, squared 1e12, × d=64 ≈ 6e13 — no overflow).
    No float accumulation order anywhere.

    Plan: per-dim sums via posexplode + ONE dim-keyed partial-agg shuffle
    (the exchange carries d × partitions rows); the d-row centroid is a
    geometry-bounded collect embedded as an array literal (the gate-pinned
    quantizer pattern, fragments.py); distance is then a map-only zip_with
    fold inside codegen and top-20 is TakeOrdered — per-partition heaps,
    never a global sort. At 100 TB the only shuffle still carries d rows
    per partition."""
    t = load_tables(spark, sf_dir, "embeddings")
    micro = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )
    m = t.embeddings.select(
        "vec_id", F.col("label").cast("long").alias("label"),
        micro.alias("xm"),
    )
    sums = (
        m.select(F.posexplode("xm").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # d rows (embedding dims), never row count: floor division on Python
    # ints == floor(Σ/n) exactly, including negative sums.
    mean = [int(r["s"]) // int(r["n"]) for r in sorted(sums, key=lambda r: r["pos"])]
    mean_lit = F.array(*[F.lit(v).cast("long") for v in mean])
    dist = F.aggregate(
        F.zip_with("xm", mean_lit, lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        m.select("vec_id", dist.alias("dist_sq"), "label")
        .orderBy(F.desc("dist_sq"), F.asc("vec_id"))
        .limit(20)
    )


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

    dist = (
        f"1000000 - CAST(FLOOR({duck_cosine('d.embedding', 'c.embedding')}"
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
        dist = (
            F.lit(1_000_000)
            - F.floor(cosine(F.col("embedding"), F.col("cvec")) * 1_000_000)
        ).cast("long")

        def nearer(frame: DataFrame, cvec: DataFrame, dmin) -> DataFrame:
            return (
                frame.crossJoin(F.broadcast(cvec.select(F.col("embedding").alias("cvec"))))
                .select("vec_id", "embedding", dmin.alias("dmin"))
                .localCheckpoint(eager=True)
            )

        def step(state):
            cur, out = state
            pick = cur.orderBy(F.desc("dmin"), F.asc("vec_id")).limit(1).collect()[0]
            out = out + [(len(out) + 1, pick["vec_id"], pick["dmin"])]
            if len(out) == _KC_K:  # the last pick needs no distance update
                return cur, out
            cvec = emb.filter(F.col("vec_id") == pick["vec_id"])
            return nearer(cur, cvec, F.least(F.col("dmin"), dist)), out

        cur = nearer(emb, seed, dist)
        _, out = iterate(
            (cur, [(1, seed.collect()[0]["vec_id"], -1)]), step, _KC_K - 1
        )
    finally:
        emb.unpersist()
    return spark.createDataFrame(
        out, "round long, vec_id long, radius_micro long"
    )
