"""LLM-pipeline queries, part 3: retrieval ranking (BM25, TF-IDF), RAG
chunking, and semantic (embedding-cluster) dedup — the SemDeDup-shaped
complement to the pairwise near-dup operators.

Float determinism strategy: ranking scores that SUM per-term float
contributions would differ between engines in the last ulp purely from
summation *order*, so scores are fixed-point — each per-term contribution is
rounded to micro-units and summed as BIGINT, which is order-independent and
bit-exact in any engine. (Per-term products/logs are computed in float64
from identical operand values with identical operation order, the same
contract the cosine/LSH oracles rely on.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..operators import text as T
from ..sources.tables import load_tables
from .llm_ops import _duck_cosine
from .registry import query

TOKS = T.duck_tokens("text")

# BM25 constants (the standard Robertson defaults)
_K1, _B = 1.2, 0.75

#: BM25 inputs for query doc 0 against the rest of the corpus:
#: ``corpus(doc_id, toks)``, the query terms ``qt(term)``, document
#: lengths ``dl(doc_id, dl)`` and the one-row ``stats(n_docs, avgdl)``.
DUCK_BM25_STATS = f"""corpus AS (
      SELECT doc_id, {TOKS} AS toks FROM documents WHERE doc_id <> 0
    ), qt AS (
      SELECT DISTINCT unnest({TOKS}) AS term FROM documents WHERE doc_id = 0
    ), dl AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM corpus
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    )"""


@query(
    "search_bm25_topk",
    oracle=f"""
    WITH {DUCK_BM25_STATS}, tfq AS (
      SELECT c.doc_id, c.term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM corpus) c
      JOIN qt USING (term)
      GROUP BY c.doc_id, c.term
    ), dfq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfq GROUP BY term
    ), contrib AS (
      -- constants are CAST to DOUBLE: DuckDB would otherwise evaluate
      -- tf*(1.2+1) in exact DECIMAL and round to double ONCE, while Spark
      -- rounds 2.2 to double first and then multiplies — a ~2-ulp skew
      -- that can flip a micro-unit rounding boundary
      SELECT tfq.doc_id,
             CAST(ROUND(
               ln(1 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tfq.tf * CAST({_K1 + 1!r} AS DOUBLE))
               / (tfq.tf + CAST({_K1!r} AS DOUBLE)
                  * (1 - CAST({_B!r} AS DOUBLE)
                     + CAST({_B!r} AS DOUBLE) * dl.dl / stats.avgdl))
               * 1000000) AS BIGINT) AS micro
      FROM tfq JOIN dfq USING (term) JOIN dl USING (doc_id), stats
    )
    SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS bm25_micro
    FROM contrib GROUP BY doc_id
    ORDER BY bm25_micro DESC, doc_id LIMIT 15
    """,
    tags=("llm", "text", "search"),
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical ranking (k1=1.2, b=0.75) of the corpus against doc 0's
    terms, top-15. The classic sparse-retrieval stage of a training-data /
    RAG pipeline, JVM-side end-to-end:

    - doc lengths + avgdl: a map-side ``size(tokens)`` projection — no
      token explode, no shuffle for the per-doc half;
    - term frequencies: tokens are *pre-filtered to query terms via a
      broadcast semi-join before the explode's groupBy*, so the tf shuffle
      carries only query-term hits, not the corpus vocabulary;
    - document frequencies: derived from the already-filtered tf relation;
    - the score is a fixed-point BIGINT sum (see module docstring), so the
      driver's value hash is engine-independent.

    At 100 TB: everything keyed by doc_id or term with the query-term side
    broadcast; nothing materializes the full posting list."""
    t = load_tables(spark, sf_dir, "documents")
    docs = t.documents.filter(F.col("doc_id") != 0)
    toks_col = T.tokens("text")

    dl = docs.select("doc_id", F.size(toks_col).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    q_terms = (
        t.documents.filter(F.col("doc_id") == 0)
        .select(F.explode(F.array_distinct(toks_col)).alias("term"))
        .distinct()
    )
    tfq = (
        docs.select("doc_id", F.explode(toks_col).alias("term"))
        .join(F.broadcast(q_terms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # df as a window over tfq, NOT a second aggregation joined back: the
    # latter re-evaluates the whole explode/join/agg subtree (the tf
    # relation has no cache), doubling the scan and adding a join shuffle.
    contrib = (
        tfq.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term")).cast("long")
        )
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("tf") * (_K1 + 1))
                / (F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl")))
                * 1_000_000
            ).cast("long").alias("micro"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum("micro").cast("long").alias("bm25_micro"))
        .orderBy(F.col("bm25_micro").desc(), "doc_id")
        .limit(15)
    )


@query(
    "text_tfidf_topterms",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {TOKS} AS toks FROM documents
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM base
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM base)
      GROUP BY doc_id, term
    ), df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(ROUND(tf.tf * (ln((1.0 + stats.n_docs) / (1.0 + df.df)) + 1)
                        * 1000000) AS BIGINT) AS tfidf_micro
      FROM tf JOIN df USING (term), stats
    )
    SELECT doc_id, term, tfidf_micro, CAST(rank AS BIGINT) AS rank FROM (
      SELECT doc_id, term, tfidf_micro,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf_micro DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
    tags=("llm", "text"),
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 characteristic terms by TF-IDF (sklearn-style
    smooth idf = ln((1+N)/(1+df)) + 1), fixed-point for engine-independent
    ranking. Three keyed shuffles — (doc, term) counts, the term-window for
    df, the doc-window for rank — plus the deterministic output sort; the
    tf relation is scanned once (df is a window over it, not a re-derived
    aggregate)."""
    t = load_tables(spark, sf_dir, "documents")
    toks_col = T.tokens("text")
    n_docs = t.documents.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tf = (
        t.documents.select("doc_id", F.explode(toks_col).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # df via a term-window on tf (see search_bm25_topk: avoids re-evaluating
    # the un-cached tf subtree for a second aggregation + join back)
    scored = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term")).cast("long")
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1)
                * 1_000_000
            ).cast("long").alias("tfidf_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf_micro").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf_micro", "rank")
        .orderBy("doc_id", "rank")
    )


# RAG chunking geometry: 64-token windows advancing by 48 (16-token overlap).
_CHUNK_W, _CHUNK_S = 64, 48


@query(
    "curation_chunk_overlap",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {TOKS} AS toks, CAST(len({TOKS}) AS BIGINT) AS n
      FROM documents
    ), chunked AS (
      SELECT doc_id, toks, n,
             unnest(generate_series(0,
               GREATEST(CAST(CEIL((n - {_CHUNK_W}) / {_CHUNK_S}.0) AS BIGINT), 0)
             )) AS k
      FROM base
    )
    SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
           CAST(k * {_CHUNK_S} AS BIGINT) AS start_idx,
           CAST(LEAST({_CHUNK_W}, n - k * {_CHUNK_S}) AS BIGINT) AS chunk_len,
           md5(array_to_string(
             toks[k * {_CHUNK_S} + 1 :
                  k * {_CHUNK_S} + LEAST({_CHUNK_W}, n - k * {_CHUNK_S})],
             ' ')) AS chunk_md5
    FROM chunked
    ORDER BY doc_id, chunk_id
    """,
    tags=("llm", "curation"),
)
def curation_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking (64-token windows, stride 48) — the
    RAG/pretraining segmentation stage. Pure map-side: tokenization, the
    per-document chunk-index ``sequence`` explode, the slice, and the md5
    content digest are all row-local projections — ZERO shuffles at any
    scale (the final orderBy exists for the deterministic oracle compare
    only). A document always yields ≥1 chunk; the tail chunk is short
    (``n - start``) rather than padded, and every token is covered."""
    t = load_tables(spark, sf_dir, "documents")
    base = t.documents.select(
        "doc_id",
        T.tokens("text").alias("toks"),
        F.size(T.tokens("text")).cast("long").alias("n"),
    )
    chunked = base.select(
        "doc_id",
        "toks",
        "n",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.greatest(
                    F.ceil((F.col("n") - _CHUNK_W) / F.lit(float(_CHUNK_S))).cast("long"),
                    F.lit(0).cast("long"),
                ),
            )
        ).alias("k"),
    )
    clen = F.least(F.lit(_CHUNK_W).cast("long"), F.col("n") - F.col("k") * _CHUNK_S)
    return chunked.select(
        "doc_id",
        F.col("k").alias("chunk_id"),
        (F.col("k") * _CHUNK_S).cast("long").alias("start_idx"),
        clen.cast("long").alias("chunk_len"),
        F.md5(
            F.array_join(
                F.slice(
                    F.col("toks"),
                    (F.col("k") * _CHUNK_S + 1).cast("int"),
                    clen.cast("int"),
                ),
                " ",
            )
        ).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


# SemDeDup (Abbas et al., arXiv:2303.09540): cluster embeddings with a cheap
# quantizer, then near-dup only *within* clusters — the pruning that turns
# O(n^2) semantic dedup into per-cell blocks.
_SEM_CELLS, _SEM_THRESHOLD = 16, 0.45


def _build_semantic_oracle() -> str | None:
    """Import-time DuckDB oracle, same pattern as llm_ops._build_ivf_oracle:
    the shared memoized quantizer (llm_ops.oracle_ivf_centroids — one sample
    scan + one training per process across all ANN oracles) emits centroid
    literals, and the SQL recomputes cell assignment (struct-max argmax with
    the smaller-cell tie-break, the single-sourced ivf_cell_sql snippet)
    plus the within-cell dominated-by-smaller-id EXISTS rule — bit-exact
    because every float expression uses the same fold order as the Spark
    side."""
    from .llm_ops import ivf_cell_sql, oracle_ivf_centroids

    C = oracle_ivf_centroids(n_cells=_SEM_CELLS, iters=8)
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
               AND {_duck_cosine('a.embedding', 'b.embedding')} >= {_SEM_THRESHOLD}
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
    from .llm_ops import gate_ivf_centroids

    t = load_tables(spark, sf_dir, "embeddings")
    cents = gate_ivf_centroids(n_cells=_SEM_CELLS)
    if cents is None:
        cents = S.ivf_centroids(t.embeddings, n_cells=_SEM_CELLS)
    # r12: fan_out measured here and REVERTED — unlike _semantic_scored,
    # this query's wall is its Σpop² pair join, not the 16-cell argmax;
    # the added exchange cost more than the parallelism bought (0.33 →
    # 0.40 s at sf0.1)
    assigned = t.embeddings.select(
        "vec_id", "embedding", S.ivf_cell_expr(cents).alias("cell")
    )
    # r12: hoist per-vector norms before the pair join — 1 fold per
    # candidate pair instead of S.cosine's 3; bit-identical (same fold,
    # same dot/(na*nb) association — the llm_ops12 _semantic_dropped
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
        .filter(cos_ab >= _SEM_THRESHOLD)
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("hit", F.lit(True)), "vec_id", "left")
        .select("vec_id", "cell", F.coalesce(~F.col("hit"), F.lit(True)).alias("kept"))
        .orderBy("vec_id")
    )


@query(
    "multimodal_jpeg_roundtrip",
    oracle="""
    SELECT doc_id, 'image/jpeg' AS media_type,
           CAST(16 + (length(text) % 3) * 8 AS BIGINT) AS width,
           CAST(16 + (length(text) % 5) * 8 AS BIGINT) AS height,
           TRUE AS ok
    FROM documents
    ORDER BY doc_id
    """,
    tags=("llm", "multimodal"),
)
def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline JPEG codec e2e (operators/jpeg.py, pure numpy): per
    document, synthesize a smooth text-derived RGB image with text-derived
    MCU geometry, encode with Annex K tables + 4:2:0 subsampling + restart
    markers, decode through the full Huffman/IDCT/upsample path, and assert
    container dims and a lossy-roundtrip pixel bound. The oracle
    re-derives the text-determined dimensions and pins ``ok`` — so a
    defect anywhere in marker layout, entropy coding, DC prediction,
    restart handling, chroma math, or the decoder's generic MCU walk flips
    a row. (Lossy codec ⇒ pixel-exact hashing is the wrong contract; the
    PNG/PPM round-trips beside this are the pixel-exact ones.)"""
    from ..operators import multimodal as M

    t = load_tables(spark, sf_dir, "documents")
    return M.jpeg_roundtrip(t.documents).orderBy("doc_id")


@query(
    "multimodal_wav_features",
    oracle="""
    WITH base AS (
      SELECT doc_id, 800 + (doc_id % 5) * 160 AS n FROM documents
    ), s AS (
      SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM base
    ), v AS (
      SELECT doc_id, n, i,
             ((doc_id * 7919 + i * 104729) % 65536) - 32768 AS smp
      FROM s
    ), agg AS (
      SELECT doc_id,
             CAST(MAX(ABS(smp)) AS BIGINT) AS peak,
             CAST(FLOOR(SQRT(CAST(SUM(smp * smp) AS DOUBLE) / COUNT(*))) AS BIGINT)
               AS rms_floor
      FROM v GROUP BY doc_id
    ), zc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS zero_crossings FROM (
        SELECT doc_id, sgn, LAG(sgn) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM (
          SELECT doc_id, i, CASE WHEN smp > 0 THEN 1 ELSE -1 END AS sgn
          FROM v WHERE smp <> 0
        )
      ) WHERE prev IS NOT NULL AND sgn <> prev
      GROUP BY doc_id
    )
    SELECT b.doc_id, CAST(16000 AS BIGINT) AS sample_rate,
           CAST(b.n AS BIGINT) AS n_frames,
           CAST(b.n * 1000 // 16000 AS BIGINT) AS duration_ms,
           agg.peak, agg.rms_floor,
           COALESCE(zc.zero_crossings, 0) AS zero_crossings
    FROM base b
    JOIN agg USING (doc_id)
    LEFT JOIN zc USING (doc_id)
    ORDER BY doc_id
    """,
    tags=("llm", "multimodal", "audio"),
)
def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality through a REAL codec (operators/audio.py RIFF/PCM-16):
    deterministic per-doc PCM synthesis → encode → decode → integer
    features, with the oracle recomputing every feature from the synthesis
    rule in plain SQL (exact: integer sums, IEEE-correctly-rounded sqrt,
    strict-sign-flip window count). See
    operators/multimodal.py:wav_roundtrip_features."""
    from ..operators import multimodal as M

    t = load_tables(spark, sf_dir, "documents")
    return M.wav_roundtrip_features(t.documents).orderBy("doc_id")


@query(
    "multimodal_mjpeg_frames",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CAST(16 + (length(text) % 2) * 8 AS BIGINT) AS width,
             2 + doc_id % 3 AS n_frames
      FROM documents
    )
    SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, width,
           CAST(16 AS BIGINT) AS height, TRUE AS ok
    FROM (SELECT doc_id, width, unnest(generate_series(0, n_frames - 1)) AS f
          FROM base)
    ORDER BY doc_id, frame_idx
    """,
    tags=("llm", "multimodal", "video"),
)
def multimodal_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video (MJPEG) demux + per-frame decode through the real JPEG codec:
    the oracle re-derives the frame count and geometry from the synthesis
    rule and pins the lossy-bound pixel check — a defect in stream
    splitting, frame boundaries (EOI scanning), or any per-frame decode
    stage drops/flips rows. See
    operators/multimodal.py:mjpeg_frame_extract."""
    from ..operators import multimodal as M

    t = load_tables(spark, sf_dir, "documents")
    return M.mjpeg_frame_extract(t.documents).orderBy("doc_id", "frame_idx")


@query(
    "multimodal_gif_frames",
    oracle="""
    WITH base AS (
      SELECT doc_id, 13 + doc_id % 3 AS w, 11 AS h, 2 + doc_id % 2 AS nf
      FROM documents
    ), fr AS (
      SELECT doc_id, w, h, unnest(generate_series(0, nf - 1)) AS f FROM base
    ), px AS (
      SELECT doc_id, w, h, f, unnest(generate_series(0, h * w - 1)) AS p
      FROM fr
    )
    SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(SUM(180 * ((p % w + p // w + f) % 4) + 60) AS BIGINT)
             AS checksum
    FROM px
    GROUP BY doc_id, f, w, h
    ORDER BY doc_id, frame_idx
    """,
    tags=("llm", "multimodal", "video"),
)
def multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated GIF through the real LZW codec: the oracle re-derives every
    frame's pixel checksum from the synthesis rule (pixel index
    (x+y+f)%4, per-pixel RGB sum 180c+60) with a generate_series grid —
    fully independent of the codec. See
    operators/multimodal.py:gif_frame_extract and operators/gif.py."""
    from ..operators import multimodal as M

    t = load_tables(spark, sf_dir, "documents")
    return M.gif_frame_extract(t.documents).orderBy("doc_id", "frame_idx")
