"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
multimodal plumbing — the beyond-the-reference operator layer (BASELINE.json
north star), oracle-checked on the driver's documents/embeddings tables.

Oracle strategy: all hashing/scoring uses the portable polynomial fold and
explicit left-to-right double folds (see operators/text.py), so DuckDB
reproduces Spark bit-for-bit. The MinHash-LSH query's oracle is the *exact*
Jaccard answer: on this corpus pair similarities are bimodal (>=0.9 planted
dups vs <=0.1 background, measured at sf0.01), and with 12 bands x 2 rows the
deterministic LSH catches every >=0.9 pair — asserted by tests comparing LSH
to exact output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as T
from ..sources.tables import load_tables
from .registry import query

# ---------------------------------------------------------------- oracle SQL

TOKS = T.duck_tokens("text")

DUCK_SHINGLE_SETS = """
  shing AS (
    SELECT doc_id, w1 || ' ' || w2 || ' ' || w3 AS sh FROM (
      SELECT doc_id, w AS w1,
             lead(w,1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
             lead(w,2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
      FROM (SELECT doc_id, generate_subscripts({toks},1) AS pos,
                   unnest({toks}) AS w FROM documents)
    ) WHERE w3 IS NOT NULL
  ),
  ds AS (SELECT DISTINCT doc_id, sh FROM shing),
  sizes AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id)
""".format(toks=TOKS)


def shingle_overlap_sql(inter: str = "COUNT(*) AS inter") -> str:
    """Shared-shingle count per doc pair (doc_a < doc_b) over ``ds``."""
    return f"""
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {inter}
      FROM ds a JOIN ds b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2"""


def near_dup_pairs_sql(select: str = "doc_a, doc_b", floor: float = 0.5) -> str:
    """Body of the near-dup ``pairs`` CTE: doc pairs whose shingle-set
    Jaccard is at least ``floor`` (``select`` may also read ``inter`` and
    the ``sa``/``sb`` sizes)."""
    return f"""
      SELECT {select} FROM ({shingle_overlap_sql()}
      ) p
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= {floor}"""


NEAR_DUP_PAIRS = near_dup_pairs_sql()


def undirected_edges_sql(union: str = "UNION ALL") -> str:
    """Both directions (u, v) of every ``pairs`` row."""
    return f"SELECT doc_a AS u, doc_b AS v FROM pairs {union} SELECT doc_b, doc_a FROM pairs"


UNDIRECTED_EDGES = undirected_edges_sql()

#: Connected components of ``e`` by recursive min-label propagation:
#: ``lbls(node, cluster)`` with cluster = the component's smallest node.
DUCK_CC_LABELS = """cc(node, lbl) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM e)
      UNION
      SELECT e.v, cc.lbl FROM cc JOIN e ON e.u = cc.node
    ),
    lbls AS (SELECT node, MIN(lbl) AS cluster FROM cc GROUP BY node)"""

#: The near-dup cluster chain (needs ``WITH RECURSIVE``): shingle sets,
#: Jaccard >= 0.5 ``pairs``, undirected edges ``e``, component ``lbls``.
NEAR_DUP_CLUSTERS = f"""{DUCK_SHINGLE_SETS},
    pairs AS ({NEAR_DUP_PAIRS}
    ),
    e AS ({UNDIRECTED_EDGES}),
    {DUCK_CC_LABELS}"""

JACCARD_SQL = f"""
  WITH {DUCK_SHINGLE_SETS},
  pairs AS ({shingle_overlap_sql()}
  )
  SELECT doc_a, doc_b,
         CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
  FROM pairs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
"""

#: Token positions under a corpus-duplicated word 3-gram:
#: ``toks(doc_id, tk)`` and the covered 0-based positions ``cov(doc_id, idx)``.
DUCK_DUP_3GRAM_COVER = """toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS tk FROM documents
    ), pos AS (
      SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
      FROM toks WHERE len(tk) >= 3
    ), sh AS (
      SELECT doc_id, i - 1 AS pos,
             tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS sh
      FROM pos
    ), dup AS (
      SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) >= 2
    ), cov AS (
      SELECT DISTINCT doc_id, idx FROM (
        SELECT s.doc_id, s.pos + unnest([0, 1, 2]) AS idx
        FROM sh s JOIN dup USING (sh)
      )
    )"""

#: Tail of the span-removal oracles: given ``toks(doc_id, tk)`` and the
#: covered token positions ``cov(doc_id, idx)``, drop covered tokens and
#: report per doc the removed count and the md5 of the rebuilt text.
DUCK_SPAN_REMOVAL_TAIL = """tp AS (
      SELECT t.doc_id, i - 1 AS idx, t.tk[i] AS tok
      FROM toks t, unnest(generate_series(1, len(t.tk))) AS u(i)
    ), kept AS (
      SELECT tp.doc_id, tp.idx, tp.tok
      FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.idx = tp.idx
      WHERE cov.doc_id IS NULL
    ), rebuilt AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             md5(string_agg(tok, ' ' ORDER BY idx)) AS clean_fp
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(len(t.tk) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.clean_fp, md5('')) AS clean_fp
    FROM toks t LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY t.doc_id"""


def _duck_simhash_sql() -> str:
    word_hash = T.duck_char_fold("w")
    bits = []
    for i in range(D.SIMHASH_BITS):
        vote = (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(hs, x -> CASE WHEN (x >> {i}) & 1 = 1 "
            f"THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)), (a,b) -> a+b)"
        )
        bits.append(f"CASE WHEN {vote} > 0 THEN CAST(1 AS BIGINT) << {i} ELSE 0 END")
    total = " + ".join(bits)
    return f"""
      WITH h AS (SELECT doc_id, list_transform({TOKS}, w -> {word_hash}) AS hs
                 FROM documents)
      SELECT doc_id, {total} AS simhash FROM h
    """


def _duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
        f"s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (x, y) -> x + y)"
    )


def _duck_cosine(a: str, b: str) -> str:
    return f"({_duck_dot(a, b)} / (SQRT({_duck_dot(a, a)}) * SQRT({_duck_dot(b, b)})))"


# ------------------------------------------------------------------- queries


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(toks, w -> CAST(length(w) AS BIGINT))), (a,b) -> a+b)
                AS DOUBLE) / len(toks) AS avg_token_len,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM (SELECT doc_id, text, {TOKS} AS toks FROM documents)
    """,
    tags=("llm", "text", "bench"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer): totals/distincts/avg length —
    pure projection, zero shuffle at any scale."""
    t = load_tables(spark, sf_dir, "documents")
    return T.token_stats(t.documents)


@query(
    "text_quality_score",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, text, toks,
             CAST(len(list_filter(toks, w -> list_contains({list(T.STOPWORDS)!r}, w))) AS BIGINT) AS n_stop,
             CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_punct
      FROM (SELECT doc_id, text, {TOKS} AS toks FROM documents)
    )
    SELECT doc_id,
           ROUND(CAST(n_stop AS DOUBLE) / len(toks), 6) AS stopword_ratio,
           ROUND(CAST(n_punct AS DOUBLE) / length(text), 6) AS punct_ratio,
           ROUND(0.5 * (1 - CAST(n_stop AS DOUBLE) / len(toks))
                 + 0.2 * (1 - CAST(n_punct AS DOUBLE) / length(text))
                 + 0.3 * LEAST(CAST(len(toks) AS DOUBLE) / 100.0, 1.0), 6) AS quality
    FROM s
    """,
    tags=("llm", "text"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics (stopword/punctuation ratios + length)."""
    t = load_tables(spark, sf_dir, "documents")
    return T.quality_score(t.documents)


@query(
    "text_lang_id",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
        CAST(len(list_filter(toks, w -> list_contains({list(T.LANG_MARKERS['de'])!r}, w))) AS BIGINT) AS score_de,
        CAST(len(list_filter(toks, w -> list_contains({list(T.LANG_MARKERS['en'])!r}, w))) AS BIGINT) AS score_en,
        CAST(len(list_filter(toks, w -> list_contains({list(T.LANG_MARKERS['es'])!r}, w))) AS BIGINT) AS score_es
      FROM (SELECT doc_id, {TOKS} AS toks FROM documents)
    )
    SELECT doc_id, score_de, score_en, score_es,
           CASE WHEN GREATEST(score_de, score_en, score_es) = 0 THEN 'unknown'
                WHEN score_de >= score_en AND score_de >= score_es THEN 'de'
                WHEN score_en >= score_es THEN 'en'
                ELSE 'es' END AS pred_lang
    FROM s
    """,
    tags=("llm", "text"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic with deterministic tie-break."""
    t = load_tables(spark, sf_dir, "documents")
    return T.language_id(t.documents)


@query(
    "text_fingerprint",
    oracle=f"SELECT doc_id, {T.duck_char_fold('text')} AS fingerprint FROM documents",
    tags=("llm", "text", "bench"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document rolling-hash fingerprint (exact-dup key)."""
    t = load_tables(spark, sf_dir, "documents")
    return T.fingerprint(t.documents)


@query(
    "dedup_exact",
    oracle="SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents GROUP BY text",
    tags=("llm", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on content."""
    t = load_tables(spark, sf_dir, "documents")
    return D.exact_dedup(t.documents)


@query("dedup_ngram_jaccard", oracle=JACCARD_SQL, tags=("llm", "dedup"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs (threshold 0.5) — the
    reference implementation the LSH path is verified against."""
    t = load_tables(spark, sf_dir, "documents")
    return D.jaccard_pairs(t.documents, threshold=0.5)


@query("dedup_minhash_lsh", oracle=JACCARD_SQL, tags=("llm", "dedup", "bench"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path near-dup detection: MinHash signatures → banded LSH
    candidate join → exact verification. Oracle = exact Jaccard (see module
    docstring for why they coincide on this corpus)."""
    t = load_tables(spark, sf_dir, "documents")
    return D.minhash_lsh_dedup(t.documents, threshold=0.5)


@query("dedup_simhash", oracle=_duck_simhash_sql(), tags=("llm", "dedup"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 30-bit SimHash fingerprints (bitwise majority vote)."""
    t = load_tables(spark, sf_dir, "documents")
    return D.simhash(t.documents)


@query(
    "dedup_simhash_neardup",
    oracle=f"""
    WITH sh AS ({_duck_simhash_sql()})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup"),
)
def dedup_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3) via the pigeonhole block join —
    candidates share at least one of 4 signature blocks, so recall is exact
    by construction while the join stays bucketed (operators/dedup.py
    simhash_near_dup). The oracle recomputes signatures in SQL and scans all
    pairs — feasible only at oracle scale, which is the point."""
    t = load_tables(spark, sf_dir, "documents")
    return D.simhash_near_dup(t.documents).orderBy("doc_a", "doc_b")


@query(
    "similarity_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, {_duck_cosine('e.embedding', 'q.qvec')} AS cosine_sim
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
             {_duck_cosine('e.embedding', 'p.embedding')} AS cosine_sim
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
             {_duck_cosine('a.embedding', 'b.embedding')} AS cosine_sim
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
             {_duck_cosine('a.embedding', 'b.embedding')} AS cosine_sim
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
             {_duck_cosine('ea.embedding', 'eb.embedding')} AS cosine_sim
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


@query(
    "multimodal_decode_stub",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS payload_len,
           'image/stub' AS media_type,
           CAST(16 + length(text) % 64 AS BIGINT) AS width,
           CAST(16 + (length(text) * 7) % 64 AS BIGINT) AS height
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column decoded via Arrow-batched
    mapInPandas (deterministic stub codec; see operators/multimodal.py)."""
    t = load_tables(spark, sf_dir, "documents")
    return M.decode_media(M.attach_binary_payload(t.documents))


#: The driver's correctness gate runs at this scale factor; the IVF oracle
#: bakes quantizer centroids for exactly this data (see _build_ivf_oracle).
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

#: Shared, process-wide cache for the import-time ANN oracle builders: ONE
#: DuckDB sample scan and ONE training per (kind, params) — four builders
#: (IVF, PQ, IVF-PQ, semantic-dedup) previously each re-scanned the parquet
#: and re-ran identical k-means/PQ trainings at every import.
_ORACLE_TRAIN: dict = {}


def oracle_sample():
    """The 4096-row portable-hash training sample from ORACLE_SF_DIR (the
    exact rows every quantizer trains on — smallest (char_fold(md5(id)), id)
    keys), or None when the gate parquet is absent/unreadable."""
    if "X" not in _ORACLE_TRAIN:
        f = os.path.join(ORACLE_SF_DIR, "embeddings.parquet")
        if not os.path.exists(f):
            # do NOT cache absence: testdata may appear later in-process
            # (mirrors whiten_fit_np / dsir_grid_np / bpe_train_py)
            return None
        # read errors on PRESENT gate data propagate — swallowing them
        # would silently drop every ANN oracle from sweeps (r3 ADVICE #1)
        import duckdb
        import numpy as np

        key = T.duck_char_fold("md5(CAST(vec_id AS VARCHAR))")
        rows = duckdb.sql(
            f"SELECT embedding FROM '{f}' ORDER BY {key}, vec_id LIMIT 4096"
        ).fetchall()
        _ORACLE_TRAIN["X"] = np.array(
            [list(r[0]) for r in rows], dtype=np.float64
        )
    return _ORACLE_TRAIN["X"]


def oracle_ivf_centroids(n_cells: int = 16, iters: int = 8):
    """Memoized spherical-k-means centroids over :func:`oracle_sample`.
    Degenerate gate data (too few rows, ragged dims) yields None — the
    builders fall back to rows-only checks instead of crashing the import
    (the @query decorators evaluate these at module load)."""
    key = ("cent", n_cells, iters)
    if key not in _ORACLE_TRAIN:
        X = oracle_sample()
        try:
            _ORACLE_TRAIN[key] = (
                None if X is None else S.ivf_kmeans(X, n_cells=n_cells, iters=iters)
            )
        except Exception:
            _ORACLE_TRAIN[key] = None
    return _ORACLE_TRAIN[key]


def oracle_pq_codebooks(m: int = 8, ksub: int = 16):
    """Memoized per-subspace PQ codebooks over :func:`oracle_sample` (same
    degenerate-data → None contract as :func:`oracle_ivf_centroids`)."""
    key = ("pq", m, ksub)
    if key not in _ORACLE_TRAIN:
        X = oracle_sample()
        try:
            _ORACLE_TRAIN[key] = (
                None if X is None else S.pq_codebooks_from_sample(X, m, ksub)
            )
        except Exception:
            _ORACLE_TRAIN[key] = None
    return _ORACLE_TRAIN[key]


def gate_ivf_centroids(n_cells: int = 16):
    """Gate-pinned quantizer for the REGISTERED ANN queries, as the
    (cell, vec) list the operators take. Training is pinned to the
    ORACLE_SF_DIR sample (train-once-apply-at-any-scale — the whiten
    convention), so each query matches its centroid-literal oracle at
    EVERY sf, not just the gate. Returns None when gate data is absent
    (queries then fall back to training on their own sf)."""
    C = oracle_ivf_centroids(n_cells)
    if C is None:
        return None
    return [(i, [float(x) for x in C[i]]) for i in range(len(C))]


def lit_vec(v) -> str:
    """A float64 vector as a DuckDB list literal (repr round-trips bits)."""
    return "[" + ", ".join(repr(float(x)) for x in v) + "]"


def cell_structs_sql(C, vec: str = "embedding") -> str:
    """The struct-max argmax snippet assigning ``vec`` to its nearest
    centroid (smaller-cell tie-break via (sim, -cell)); shared verbatim by
    the IVF, IVF-PQ and semantic-dedup oracles so the assignment SQL cannot
    drift between them."""
    return ", ".join(
        "{'sim': " + _duck_dot(vec, lit_vec(C[i]))
        + f", 'negcell': CAST({-i} AS BIGINT)}}"
        for i in range(len(C))
    )


def ivf_cell_sql(C, alias: str) -> str:
    """``embedding``'s nearest-centroid cell id (see cell_structs_sql) as
    a BIGINT column named ``alias``."""
    return f"CAST(-(list_aggregate([{cell_structs_sql(C)}], 'max').negcell) AS BIGINT) AS {alias}"


def _duck_ivf_probe(C, nprobe: int) -> str:
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
        SELECT c.cell, {_duck_cosine('q.qvec', 'c.cvec')} AS cs FROM cent c, q
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
        luts = ", ".join(_duck_dot(sub("q.qvec", s), lit_vec(cvec)) for cvec in cbs[s])
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
    WITH {_duck_ivf_probe(C, 4)}
    SELECT vec_id, ivf_cell, cosine_sim FROM (
      SELECT a.vec_id, a.ivf_cell, {_duck_cosine('a.embedding', 'q.qvec')} AS cosine_sim
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
      SELECT c.vec_id, {_duck_cosine('c.embedding', 'q.qvec')} AS cosine_sim
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
    WITH {_duck_ivf_probe(C, nprobe)},
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
      SELECT c.vec_id, c.ivf_cell, {_duck_cosine('c.embedding', 'q.qvec')} AS cosine_sim
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


def _build_ivf_recall_oracle() -> str | None:
    """DuckDB replay of the recall evaluation: the exact brute-force top-10
    and the IVF(nprobe=4) top-10 recomputed independently (same centroid
    literals, same (cosine DESC, vec_id) total order as the two queries they
    mirror), intersected. Returns None when the gate parquet is absent."""
    C = oracle_ivf_centroids(n_cells=16, iters=8)
    if C is None:
        return None
    return f"""
    WITH {_duck_ivf_probe(C, 4)},
    appr AS (
      SELECT vec_id FROM (
        SELECT a.vec_id, {_duck_cosine('a.embedding', 'q.qvec')} AS cosine_sim
        FROM assigned a, q
        WHERE a.ivf_cell IN (SELECT cell FROM probed) AND a.vec_id <> 0
      ) ORDER BY cosine_sim DESC, vec_id LIMIT 10
    ),
    exact AS (
      SELECT vec_id FROM (
        SELECT e.vec_id, {_duck_cosine('e.embedding', 'q.qvec')} AS cosine_sim
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


_TRUNC_D = 32


@query(
    "similarity_truncated_recall_eval",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    exact AS (
      SELECT vec_id FROM (
        SELECT e.vec_id, {_duck_cosine('e.embedding', 'q.qvec')} AS s
        FROM embeddings e, q WHERE e.vec_id <> 0
      ) ORDER BY s DESC, vec_id LIMIT 10
    ),
    tr AS (
      SELECT vec_id FROM (
        SELECT e.vec_id,
               {_duck_cosine(f'list_slice(e.embedding, 1, {_TRUNC_D})', f'list_slice(q.qvec, 1, {_TRUNC_D})')} AS s
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
    "multimodal_features",
    oracle="""
    WITH h AS (
      SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      FROM documents
    ), nib AS (
      SELECT doc_id, n,
             list_transform(range(CAST(n AS BIGINT)),
               i -> strpos('123456789ABCDEF', substr(hx, CAST(2*i+1 AS INTEGER), 1))) AS bins
      FROM h
    )
    SELECT doc_id, CAST(n AS BIGINT) AS payload_len, CAST(16 AS INTEGER) AS n_bins,
           array_to_string(list_transform(range(16),
             k -> CAST(len(list_filter(bins, b -> b = k)) AS BIGINT)), ',') AS hist_csv
    FROM nib
    """,
    tags=("llm", "multimodal"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-histogram feature extraction over binary payloads (real
    computation — numpy inside Arrow batches); the normalized variant feeds
    the similarity operators. Registered in integer-count form so the output
    is exact: with 16 bins a byte's bin is its high nibble, which the DuckDB
    oracle recomputes independently as a hex-digit histogram (full value-hash
    check — was rows-only in rounds 1-2). The counts csv is hash/sort-stable;
    the float features are counts/payload_len, pinned in tests."""
    t = load_tables(spark, sf_dir, "documents")
    feats = M.extract_features(M.attach_binary_payload(t.documents), normalize=False)
    return feats.select(
        "doc_id",
        "payload_len",
        F.size("features").alias("n_bins"),
        F.array_join(F.transform("features", lambda x: x.cast("string")), ",").alias(
            "hist_csv"
        ),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
           UNNEST(generate_series(0, 3)) AS frame_idx,
           CAST(CASE WHEN UNNEST(generate_series(0, 3)) < 3
                     THEN length(text) // 4
                     ELSE length(text) - 3 * (length(text) // 4)
                END AS BIGINT) AS frame_len
    FROM documents WHERE doc_id < 30
    """,
    tags=("llm", "multimodal"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: 4 equal-split chunks per payload, executor-side row
    multiplication. The oracle reproduces the split arithmetic (chunk sizes);
    frame bytes themselves are checked in tests."""
    t = load_tables(spark, sf_dir, "documents")
    frames = M.sample_frames(
        M.attach_binary_payload(t.documents.filter(F.col("doc_id") < 30)), n_frames=4
    )
    return frames.select("doc_id", "frame_idx", "frame_len")


from ..operators import curation as C  # noqa: E402


@query(
    "curation_hash_split",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, n_chars, {C.duck_split_bucket('doc_id')} AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
    FROM b GROUP BY 1 ORDER BY split
    """,
    tags=("llm", "curation"),
)
def curation_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (operators/curation.py): bucket =
    portable polynomial fold over md5(doc_id), thresholds at 80/10/10 —
    per-row projection, zero shuffle before the tiny count agg, stable
    under re-runs/repartitioning at any scale."""
    t = load_tables(spark, sf_dir, "documents")
    return (
        C.hash_split(t.documents)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_chars_total"))
        .orderBy("split")
    )


@query(
    "curation_pack_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, CAST(len({TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM t
    )
    SELECT source,
           CAST(FLOOR(cum_before / 512) AS BIGINT) AS chunk_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens
    FROM c GROUP BY source, chunk_id ORDER BY source, chunk_id
    """,
    tags=("llm", "curation"),
)
def curation_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/curation.py): concat-and-chunk documents
    into 512-token chunks per source — a doc belongs to the chunk where its
    first token lands. One window shuffle on source; groups pack in
    parallel."""
    t = load_tables(spark, sf_dir, "documents")
    return (
        C.pack_token_budget(t.documents, budget=512, by="source", order_col="doc_id")
        .groupBy("source", "chunk_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("chunk_tokens"))
        .orderBy("source", "chunk_id")
    )


@query(
    "curation_stratified_sample",
    oracle=f"""
    WITH b AS (
      SELECT lang, {C.duck_split_bucket('doc_id')} AS bucket FROM documents
    )
    SELECT lang, COUNT(*) AS n_sampled
    FROM b
    WHERE bucket < CASE lang WHEN 'en' THEN 500 WHEN 'es' THEN 2000 ELSE 1000 END
    GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "curation"),
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (en 5%, es 20%, rest 10%): pure
    per-row hash thresholding — reproducible, zero shuffle before the tiny
    count; the scale story of sampleBy without its RNG coupling."""
    t = load_tables(spark, sf_dir, "documents")
    sampled = C.stratified_sample(
        t.documents, rates={"en": 0.05, "es": 0.20}, default_rate=0.10
    )
    return sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled")).orderBy("lang")


@query(
    "curation_shuffle_order",
    oracle=f"""
    SELECT doc_id,
           {C.duck_split_bucket('doc_id', 1_000_000_007).replace('md5(CAST(doc_id AS VARCHAR))', "md5('ep0' || CAST(doc_id AS VARCHAR))")} AS shuffle_key
    FROM documents
    ORDER BY shuffle_key, doc_id LIMIT 100
    """,
    tags=("llm", "curation"),
)
def curation_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle: order by a salted portable hash
    of doc_id (salt = epoch id -> independent orders per epoch). The global
    sort range-partitions at scale; top-100 here keeps the oracle small."""
    t = load_tables(spark, sf_dir, "documents")
    return (
        t.documents.select(
            "doc_id", C.shuffle_rank("doc_id", salt="ep0").alias("shuffle_key")
        )
        .orderBy("shuffle_key", "doc_id")
        .limit(100)
    )


@query(
    "text_ngram_counts",
    oracle=f"""
    WITH {DUCK_SHINGLE_SETS}
    SELECT sh, COUNT(*) AS doc_freq
    FROM ds GROUP BY sh
    ORDER BY doc_freq DESC, sh LIMIT 50
    """,
    tags=("llm", "text"),
)
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide n-gram document frequencies (top-50 3-grams): shingle
    explode -> one count shuffle -> TakeOrdered. The LM-stats staple; at
    100 TB the explode is map-side and the shuffle carries (shingle, partial
    count) pairs, not documents."""
    t = load_tables(spark, sf_dir, "documents")
    ds = D.shingle_sets(t.documents)
    return (
        ds.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "sh")
        .limit(50)
    )


@query(
    "curation_contamination",
    oracle=f"""
    WITH {DUCK_SHINGLE_SETS},
    b AS (SELECT doc_id, {C.duck_split_bucket('doc_id')} AS bucket FROM documents),
    v AS (SELECT ds.doc_id, sh FROM ds JOIN b USING(doc_id)
          WHERE bucket >= 8000 AND bucket < 9000),
    t AS (SELECT DISTINCT sh FROM ds JOIN b USING(doc_id) WHERE bucket < 8000)
    SELECT v.doc_id, COUNT(DISTINCT v.sh) AS n_shared
    FROM v JOIN t ON v.sh = t.sh
    GROUP BY v.doc_id ORDER BY v.doc_id
    """,
    tags=("llm", "curation"),
)
def curation_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val leakage check (operators/curation.py:contamination): per
    val doc, the count of 3-gram shingles also present anywhere in train —
    the n-gram decontamination gate run before a training launch."""
    t = load_tables(spark, sf_dir, "documents")
    return (
        C.contamination(C.hash_split(t.documents))
        .orderBy("doc_id")
    )
