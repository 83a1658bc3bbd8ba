"""LLM-pipeline queries, part 2: corpus quality gates (Gopher-style rules,
repetition, PII redaction), BPE-ish token counts, per-source quota caps,
mixture resampling, connected-components dedup clustering, gap-based
sessionization, Zipf vocabulary ranks, hybrid lexical+vector search, and the
real-PPM multimodal round-trip — the curation/retrieval stages between
near-dup *pairs* and a training-ready corpus.

Oracle strategy follows llm_ops.py: portable polynomial hashing and explicit
list-fold arithmetic so DuckDB reproduces every value bit-for-bit; the
connected-components oracle is a recursive-CTE label propagation (feasible
at oracle scale only — the Spark side is the distributed hash-min loop in
operators/graph.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import curation as C
from ..operators import dedup as D
from ..operators import graph as G
from ..operators import quality as Q
from ..operators import text as T
from ..sources.tables import load_tables
from .llm_ops import NEAR_DUP_CLUSTERS, _duck_cosine
from .registry import query

TOKS = T.duck_tokens("text")


@query(
    "quality_gopher_flags",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, text, {TOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(toks, w -> CAST(length(w) AS BIGINT))), (a,b) -> a+b)
                  AS DOUBLE) / len(toks) AS mean_word_len,
             CAST(len(list_intersect(list_distinct(toks), {list(T.STOPWORDS)!r}))
                  AS BIGINT) AS n_distinct_stopwords,
             CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                  / length(text) AS symbol_ratio
      FROM s
    )
    SELECT doc_id, n_words, ROUND(mean_word_len, 6) AS mean_word_len,
           n_distinct_stopwords,
           n_words BETWEEN {Q.MIN_WORDS} AND {Q.MAX_WORDS} AS ok_word_count,
           mean_word_len BETWEEN {Q.MIN_MEAN_WORD_LEN} AND {Q.MAX_MEAN_WORD_LEN}
             AS ok_mean_word_len,
           n_distinct_stopwords >= {Q.MIN_DISTINCT_STOPWORDS} AS ok_stopwords,
           symbol_ratio <= {Q.MAX_SYMBOL_RATIO} AS ok_symbol_ratio,
           (n_words BETWEEN {Q.MIN_WORDS} AND {Q.MAX_WORDS})
             AND (mean_word_len BETWEEN {Q.MIN_MEAN_WORD_LEN} AND {Q.MAX_MEAN_WORD_LEN})
             AND n_distinct_stopwords >= {Q.MIN_DISTINCT_STOPWORDS}
             AND symbol_ratio <= {Q.MAX_SYMBOL_RATIO} AS passes
    FROM m
    """,
    tags=("llm", "quality"),
)
def quality_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rules (operators/quality.py): word-count and
    mean-word-length bounds, distinct-stopword evidence, symbol ratio — each
    as an auditable flag plus the combined verdict. Pure projection, zero
    shuffle at any scale."""
    t = load_tables(spark, sf_dir, "documents")
    return Q.gopher_quality_flags(t.documents)


@query(
    "text_repetition_stats",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {TOKS} AS toks FROM documents
    ), g AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) >= 2 THEN
               list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
             ELSE [] END AS grams
      FROM s
    )
    SELECT doc_id,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_token_ratio,
           CAST(COALESCE(list_max(list_transform(list_distinct(toks),
                g -> len(list_filter(toks, x -> x = g)))), 0) AS DOUBLE) / len(toks)
             AS top_token_frac,
           CASE WHEN len(grams) > 0 THEN
             CAST(COALESCE(list_max(list_transform(list_distinct(grams),
                  g -> len(list_filter(grams, x -> x = g)))), 0) AS DOUBLE) / len(grams)
           ELSE 0.0 END AS top_bigram_frac
    FROM g
    """,
    tags=("llm", "quality"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detection (operators/quality.py): distinct-token ratio and
    the top token/bigram share — the Gopher "fraction in top n-gram" rule
    family. Row-local array arithmetic; no shuffle."""
    t = load_tables(spark, sf_dir, "documents")
    return Q.repetition_stats(t.documents)


#: Deterministic PII synthesis (the corpus itself is a clean word salad):
#: every doc gets an email, an IP, and a phone number derived from doc_id —
#: both engines append the identical suffix, then redact it away.
def _pii_suffix_spark():
    return F.concat(
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )

_PII_SUFFIX_DUCK = (
    "' contact user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.0.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.7 call 555-' || "
    "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def _duck_pii_sql() -> str:
    redacted = "t"
    counts = []
    for cat, (pat, repl) in Q.PII_PATTERNS.items():
        counts.append(
            f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_{cat}"
        )
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    return f"""
    WITH s AS (SELECT doc_id, text || {_PII_SUFFIX_DUCK} AS t FROM documents)
    SELECT doc_id, {', '.join(counts)}, {redacted} AS redacted FROM s
    """


@query("pii_redaction", oracle=_duck_pii_sql(), tags=("llm", "quality"))
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/quality.py): email/IP/phone patterns removed
    via chained JVM regexp_replace with per-category match counts. The corpus
    is synthetic and PII-free, so the query deterministically injects one of
    each per document (identically on both engines) and verifies the redacted
    text and counts byte-for-byte."""
    t = load_tables(spark, sf_dir, "documents")
    seeded = t.documents.withColumn(
        "text", F.concat(F.col("text"), _pii_suffix_spark())
    )
    return Q.pii_redact(seeded)


#: BPE-style pre-tokenizer: letter runs, 1-3-digit groups, punctuation runs —
#: the cl100k-ish split shape, restricted to constructs RE2 *and* Java regex
#: share (no lookahead), so Spark and the oracle tokenize identically.
BPE_RE = r" ?[a-zA-Z]+| ?[0-9]{1,3}| ?[^a-zA-Z0-9 ]+"


@query(
    "text_bpe_token_count",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             text || ' v' || CAST(doc_id AS VARCHAR) || '.0 costs $'
                  || CAST(doc_id % 1000 AS VARCHAR) || '!' AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(string_split_regex(trim(t), '\\s+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(t, '{BPE_RE}')) AS BIGINT) AS n_bpe_tokens
    FROM s
    """,
    tags=("llm", "text"),
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex pre-tokenizer next to the
    whitespace count: letter runs, <=3-digit number groups, punctuation runs
    (the shape every modern tokenizer's pre-split uses). The corpus is
    letters-only, so the query appends a deterministic mixed-content suffix
    (version number, price, punctuation) on both engines to make the two
    counts genuinely diverge. Pure projection, zero shuffle."""
    t = load_tables(spark, sf_dir, "documents")
    seeded = t.documents.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" v"),
            F.col("doc_id").cast("string"),
            F.lit(".0 costs $"),
            (F.col("doc_id") % 1000).cast("string"),
            F.lit("!"),
        ).alias("t"),
    )
    return seeded.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("t")), r"\s+")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(BPE_RE), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


@query(
    "curation_source_cap",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {T.duck_char_fold("md5('cap' || CAST(doc_id AS VARCHAR))")}, doc_id
             ) AS rnk
      FROM documents
    )
    SELECT doc_id, source, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 10 ORDER BY source, rnk
    """,
    tags=("llm", "curation"),
)
def curation_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap: keep at most 10 documents per source, chosen by
    a deterministic salted-hash order (reproducible under re-runs and
    repartitioning — no RNG). One window shuffle on source; the standard
    anti-domination gate when one crawl source dwarfs the rest."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        C.shuffle_rank("doc_id", salt="cap"), "doc_id"
    )
    return (
        t.documents.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 10)
        .select("doc_id", "source", "rnk")
        .orderBy("source", "rnk")
    )


#: Near-dup cluster id per document (singletons are their own cluster);
#: also the oracle of llm_ops6.dedup_clusters_incremental.
DEDUP_CLUSTERS_SQL = f"""
    WITH RECURSIVE {NEAR_DUP_CLUSTERS}
    SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN lbls l ON l.node = d.doc_id
    ORDER BY doc_id
    """


@query(
    "dedup_clusters",
    oracle=DEDUP_CLUSTERS_SQL,
    tags=("llm", "dedup"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH pairs → distributed hash-min
    connected components (operators/graph.py) → canonical cluster id per
    document (singletons keep their own id). The keep-one-per-cluster step
    that turns pairwise dedup output into an actual corpus reduction. Oracle
    recomputes components with a recursive CTE over the exact-Jaccard pair
    list."""
    t = load_tables(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(t.documents, threshold=0.5).select("doc_a", "doc_b")
    return G.dedup_clusters(t.documents, pairs).orderBy("doc_id")


@query(
    "sessionize_events",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM g
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us
    FROM s GROUP BY user_id, session_idx
    """,
    tags=("streaming", "session"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts after a >30-min silence
    per user (the batch analog of a streaming session window — Spark's
    ``F.session_window`` implements the same semantics incrementally; this
    formulation also yields the per-user session *index*). Plan: one window
    shuffle on user_id computes gap + running session index; the per-session
    aggregate reuses the same key prefix. At scale both stages hash on the
    user key — no global ordering anywhere."""
    from pyspark.sql import Window

    from ..sources.tables import load_tables as _lt

    t = _lt(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    g = t.events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0).alias("new_sess"),
    )
    s = g.withColumn(
        "session_idx",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    return s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .cast("long")
        .alias("duration_us"),
    )


@query(
    "text_zipf_ranks",
    oracle=f"""
    WITH t AS (
      SELECT unnest({TOKS}) AS term FROM documents
    ), c AS (
      SELECT term, COUNT(*) AS freq FROM t GROUP BY term
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS BIGINT) AS rank,
           term, freq
    FROM c ORDER BY rank LIMIT 100
    """,
    tags=("llm", "text"),
)
def text_zipf_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary frequency ranks (Zipf table, top-100): token explode →
    one count shuffle → TakeOrdered. The corpus-stats staple next to
    text_ngram_counts; at 100 TB the shuffle carries (term, partial count)
    pairs, never documents."""
    from ..operators.text import tokens as _tokens
    from ..sources.tables import load_tables as _lt

    t = _lt(spark, sf_dir, "documents")
    c = (
        t.documents.select(F.explode(_tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("freq").desc(), "term")
    return (
        c.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "term", "freq")
        .orderBy("rank")
        .limit(100)
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
           {_duck_cosine("e.embedding", "qv.q")} AS cosine_sim
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


@query(
    "curation_mixture_resample",
    oracle=f"""
    WITH n AS (
      SELECT source,
             {C.duck_mixture_copies({"src0": 2.5, "src1": 0.25, "src2": 0.0})} AS n_copies
      FROM documents
    )
    SELECT source, CAST(SUM(n_copies) AS BIGINT) AS n_rows,
           COUNT(*) FILTER (n_copies > 0) AS n_docs
    FROM n GROUP BY source HAVING SUM(n_copies) > 0 ORDER BY source
    """,
    tags=("llm", "curation"),
)
def curation_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture resampling (operators/curation.py:mixture_resample): src0
    upweighted 2.5x (every doc twice + a deterministic half a third time),
    src1 kept at 25%, src2 dropped, the rest at 1.0 — per-source row/doc
    counts after replication. Pure map-side projection + explode; the
    training-mix weighting step with zero shuffle before the tiny count."""
    t = load_tables(spark, sf_dir, "documents")
    out = C.mixture_resample(
        t.documents, weights={"src0": 2.5, "src1": 0.25, "src2": 0.0}
    )
    return (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy("source")
    )


@query(
    "multimodal_ppm_roundtrip",
    oracle="""
    SELECT doc_id,
           'image/x-portable-pixmap' AS media_type,
           CAST(8 AS BIGINT) AS width,
           CAST(4 AS BIGINT) AS height,
           CAST(11 + 8 * 4 * 3 AS BIGINT) AS payload_len
    FROM documents WHERE doc_id < 40 ORDER BY doc_id
    """,
    tags=("llm", "multimodal"),
)
def multimodal_ppm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal pipeline under the driver gate: synthesize a binary
    PPM per document (16x8, pixels cycled from the text bytes), nearest-
    neighbor resize to 8x4 (`resize_ppm` — actual pixel work in numpy inside
    Arrow batches), then decode the resized payload (`decode_media` P6
    branch). The oracle pins the decoded type/dimensions and the exact P6
    payload length — any failure in header emit, pixel buffer arithmetic, or
    the mapInPandas plumbing breaks it. Pixel-exactness vs a numpy oracle is
    pinned in tests/test_llm_ops.py::TestPpmCodec."""
    from ..operators import multimodal as M

    t = load_tables(spark, sf_dir, "documents")
    docs = t.documents.filter(F.col("doc_id") < 40)
    # 16x8 P6: header + 384 pixel bytes cycled from the text. The repeat
    # factor is computed from the actual text length (empty text falls back
    # to a 1-char seed), so the pixel buffer is ALWAYS >= 384 bytes — a
    # fixed repeat(,8) only covers texts >= 48 chars and silently emits a
    # truncated container below that.
    seed = F.when(F.length("text") > 0, F.col("text")).otherwise(F.lit("x"))
    reps = F.ceil(F.lit(float(16 * 8 * 3)) / F.length(seed)).cast("int")
    pix = F.substring(F.repeat(seed, reps), 1, 16 * 8 * 3)
    payload = F.concat(F.lit("P6\n16 8\n255\n"), pix).cast("binary")
    ppm = docs.select("doc_id", payload.alias("payload"))
    resized = M.resize_ppm(ppm, width=8, height=4).select(
        "doc_id", "payload"
    )
    return (
        M.decode_media(resized)
        .select("doc_id", "media_type", "width", "height", "payload_len")
        .orderBy("doc_id")
    )


def _png_roundtrip_oracle() -> str:
    """Pixel-exact oracle for multimodal_png_roundtrip: the resized image's
    decoded bytes are a pure index-sample of the cycled text bytes, so
    DuckDB rebuilds them positionally from hex(encode(text)) and folds the
    same polynomial hash the Spark side computes from the actually-decoded
    PNG — any corruption anywhere in deflate/encode/decode/unfilter/resize
    changes the hash."""
    # nearest-neighbor 16x8 -> 8x4: ys=(i*8)//4, xs=(j*16)//8
    ys = [(i * 8) // 4 for i in range(4)]
    xs = [(j * 16) // 8 for j in range(8)]
    positions = [(y * 16 + x) * 3 + k for y in ys for x in xs for k in (0, 1, 2)]
    pos_list = "[" + ", ".join(str(p) for p in positions) + "]"
    nib = "'123456789ABCDEF'"
    byteval = (
        f"(16 * strpos({nib}, substr(hx, CAST(2*(p % n) + 1 AS INTEGER), 1))"
        f" + strpos({nib}, substr(hx, CAST(2*(p % n) + 2 AS INTEGER), 1)))"
    )
    return f"""
    WITH h AS (
      SELECT doc_id,
             hex(encode(CASE WHEN length(text) > 0 THEN text ELSE 'x' END)) AS hx,
             octet_length(encode(CASE WHEN length(text) > 0 THEN text ELSE 'x' END)) AS n
      FROM documents WHERE doc_id < 40
    )
    SELECT doc_id, 'image/png' AS media_type,
           CAST(8 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform({pos_list}, p -> CAST({byteval} AS BIGINT))),
             (a, b) -> (a * {T.BASE} + b) % {T.MOD}) AS pixel_hash
    FROM h ORDER BY doc_id
    """


@query(
    "multimodal_png_roundtrip",
    oracle=_png_roundtrip_oracle(),
    tags=("llm", "multimodal"),
)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG pipeline under the driver gate: synthesize a 16x8 RGB PNG
    per document (pure-stdlib writer — zlib deflate, CRC chunks), nearest-
    neighbor resize via full decode/re-encode (operators/png.py: inflate +
    per-scanline unfilter), then decode the resized container and hash its
    raw pixel bytes. The oracle (_png_roundtrip_oracle) re-derives the
    expected pixels positionally from the text bytes — a PIXEL-EXACT
    value-hash check of the whole codec, not just dimensions. Arrow-batched
    mapInPandas at every step; embarrassingly parallel."""
    from ..operators import multimodal as M

    t = load_tables(spark, sf_dir, "documents")
    docs = t.documents.filter(F.col("doc_id") < 40)
    ppm = M.synthesize_png(docs, width=16, height=8)
    resized = M.resize_png(ppm, width=8, height=4).select("doc_id", "payload")
    return (
        M.decode_png_hashed(resized)
        .select("doc_id", "media_type", "width", "height", "pixel_hash")
        .orderBy("doc_id")
    )
