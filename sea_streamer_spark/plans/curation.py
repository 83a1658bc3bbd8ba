"""Curation: hash splits, packing, shuffles, contamination, CDC merges and
SCD2 history, PII rates, decontamination and source divergence matrices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import curation as C
from ..operators import text as T
from ..operators.text import word_counts
from ..sources.tables import load_tables
from .fragments import DUCK_SHINGLE_SETS, TOKS
from .registry import query


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


# CDC merge upsert (the MERGE INTO / changelog-compaction analog)
@query(
    "cdc_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT doc_id, text AS base_text FROM documents WHERE doc_id % 4 <> 3
    ), ch AS (
      SELECT doc_id, 1 AS seq, 'U' AS op, 'rev1: ' || text AS new_text
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, 2 AS seq, 'U' AS op, 'rev2: ' || text AS new_text
      FROM documents WHERE doc_id % 6 = 0
      UNION ALL
      SELECT doc_id, 3 AS seq, 'D' AS op, CAST(NULL AS VARCHAR) AS new_text
      FROM documents WHERE doc_id % 9 = 0
    ), latest AS (
      SELECT doc_id, op, new_text FROM (
        SELECT doc_id, op, new_text,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
        FROM ch
      ) WHERE rn = 1
    )
    SELECT COALESCE(b.doc_id, l.doc_id) AS doc_id,
           CASE WHEN l.op IS NULL THEN 'kept'
                WHEN b.doc_id IS NOT NULL THEN 'updated'
                ELSE 'inserted' END AS action,
           md5(CASE WHEN l.op = 'U' THEN l.new_text ELSE b.base_text END) AS fp
    FROM base b FULL OUTER JOIN latest l ON b.doc_id = l.doc_id
    WHERE l.op IS NULL OR l.op <> 'D'
    ORDER BY doc_id
    """,
    tags=("llm", "curation"),
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog merge — the MERGE INTO / upsert-compaction op every
    lakehouse ingest needs: a base snapshot (docs with id%4≠3) merged with
    a multi-version changelog (seq-ordered U/U/D records synthesized
    deterministically on both engines). Latest-wins per key via one
    key-partitioned ROW_NUMBER window; the merge itself is one full-outer
    key join: latest 'D' deletes, latest 'U' updates in-place or inserts,
    untouched keys keep the base row. At scale: write the base bucketed by
    key and the changelog (normally ≪ base) sort-merges co-located or
    broadcasts — never more than the one join; per-key window state is the
    version count, not the corpus. The driver hash checks every surviving
    row's provenance tag and final text."""
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, "documents").documents
    base = docs.filter(F.col("doc_id") % 4 != 3).select(
        "doc_id", F.col("text").alias("base_text")
    )
    mk = lambda seq, op, txt: F.struct(  # noqa: E731
        F.lit(seq).alias("seq"), F.lit(op).alias("op"), txt.alias("new_text")
    )
    ch = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.array(
                    F.when(
                        F.col("doc_id") % 3 == 0,
                        mk(1, "U", F.concat(F.lit("rev1: "), F.col("text"))),
                    ),
                    F.when(
                        F.col("doc_id") % 6 == 0,
                        mk(2, "U", F.concat(F.lit("rev2: "), F.col("text"))),
                    ),
                    F.when(
                        F.col("doc_id") % 9 == 0,
                        mk(3, "D", F.lit(None).cast("string")),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("c"),
    ).select("doc_id", "c.seq", "c.op", "c.new_text")
    w = Window.partitionBy("doc_id").orderBy(F.col("seq").desc())
    latest = (
        ch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "op", "new_text")
    )
    merged = base.join(latest, "doc_id", "full_outer")
    return (
        merged.filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            "doc_id",
            F.when(F.col("op").isNull(), F.lit("kept"))
            .when(F.col("base_text").isNotNull(), F.lit("updated"))
            .otherwise(F.lit("inserted"))
            .alias("action"),
            F.md5(
                F.when(F.col("op") == "U", F.col("new_text")).otherwise(
                    F.col("base_text")
                )
            ).alias("fp"),
        )
        .orderBy("doc_id")
    )


@query(
    "cdc_scd2_history",
    oracle="""
    WITH versions AS (
      SELECT doc_id, 0 AS seq, 'I' AS op, text AS vtext
      FROM documents WHERE doc_id % 4 <> 3
      UNION ALL
      SELECT doc_id, 1, 'U', 'rev1: ' || text
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, 2, 'U', 'rev2: ' || text
      FROM documents WHERE doc_id % 6 = 0
      UNION ALL
      SELECT doc_id, 3, 'D', CAST(NULL AS VARCHAR)
      FROM documents WHERE doc_id % 9 = 0
    ), closed AS (
      SELECT doc_id, seq, op, vtext,
             LEAD(seq) OVER (PARTITION BY doc_id ORDER BY seq)
               AS valid_to_seq
      FROM versions
    )
    SELECT doc_id, CAST(seq AS BIGINT) AS valid_from_seq,
           CAST(valid_to_seq AS BIGINT) AS valid_to_seq,
           (valid_to_seq IS NULL) AS is_current,
           md5(vtext) AS fp
    FROM closed WHERE op <> 'D'
    ORDER BY doc_id, valid_from_seq
    """,
    tags=("llm", "curation", "cdc"),
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build — the OTHER half of CDC ingestion (the
    compaction half is ``cdc_merge_upsert``): instead of latest-wins, keep
    EVERY version with a validity interval [valid_from_seq, valid_to_seq)
    and an ``is_current`` flag, so point-in-time queries can ask "what did
    this row say at seq k". Same deterministic synthesized changelog as
    the merge query (base rows as seq-0 inserts, rev1/rev2 updates,
    deletes at seq 3); a delete closes the last open interval and emits no
    version of its own.

    Plan: one key-partitioned LEAD window over the unioned
    changelog — per-key window state is the version count (≤ 4 here,
    bounded by churn per key in general), never corpus-sized. The union
    branches are projections of one documents scan; no join anywhere. At
    100 TB SCD2 builds are exactly this shape over the real changelog,
    partitioned by key."""
    docs = load_tables(spark, sf_dir, "documents").documents
    mk = lambda seq, op, txt: F.struct(  # noqa: E731
        F.lit(seq).alias("seq"), F.lit(op).alias("op"), txt.alias("vtext")
    )
    versions = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.array(
                    F.when(F.col("doc_id") % 4 != 3, mk(0, "I", F.col("text"))),
                    F.when(
                        F.col("doc_id") % 3 == 0,
                        mk(1, "U", F.concat(F.lit("rev1: "), F.col("text"))),
                    ),
                    F.when(
                        F.col("doc_id") % 6 == 0,
                        mk(2, "U", F.concat(F.lit("rev2: "), F.col("text"))),
                    ),
                    F.when(
                        F.col("doc_id") % 9 == 0,
                        mk(3, "D", F.lit(None).cast("string")),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("v"),
    ).select("doc_id", "v.seq", "v.op", "v.vtext")
    w = Window.partitionBy("doc_id").orderBy("seq")
    closed = versions.select(
        "doc_id", "seq", "op", "vtext",
        F.lead("seq").over(w).alias("valid_to_seq"),
    )
    return (
        closed.filter(F.col("op") != "D")
        .select(
            "doc_id",
            F.col("seq").cast("long").alias("valid_from_seq"),
            F.col("valid_to_seq").cast("long").alias("valid_to_seq"),
            F.col("valid_to_seq").isNull().alias("is_current"),
            F.md5("vtext").alias("fp"),
        )
        .orderBy("doc_id", "valid_from_seq")
    )


@query(
    "curation_source_lang_crosstab",
    oracle="""
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(len(string_split_regex(trim(text), '\\s+'))
                    AS BIGINT)) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source, lang ORDER BY source, lang
    """,
    tags=("llm", "curation", "profile"),
)
def curation_source_lang_crosstab(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Source × language crosstab in documents AND tokens — the raw
    planning matrix every mixture decision starts from (re-weighting,
    upsampling, and per-lang quality thresholds all read this table
    first; tokens, not doc counts, are the column that matters).

    Plan: token count is a zero-shuffle projection; one
    (source, lang)-keyed partial agg (≤ |sources|·|langs| × partitions
    exchange rows)."""
    t = load_tables(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    return (
        t.documents.select("source", "lang", n_tok.alias("n_tokens"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("source", "lang")
    )


#: GPT-3/Llama decontamination gram size (13 consecutive tokens).
_DECON_K = 13


@query(
    "curation_eval_decontaminate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, i,
             list_aggregate(t[i:i+{_DECON_K}-1], 'string_agg', ' ') AS g
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{_DECON_K}+1)) AS i
            FROM toks WHERE len(t) >= {_DECON_K})
    ),
    ev AS (SELECT DISTINCT g, doc_id AS eval_doc FROM grams WHERE doc_id % 10 = 7),
    tr AS (SELECT doc_id, i, g FROM grams WHERE doc_id % 10 <> 7),
    hits AS (
      SELECT tr.doc_id,
             CAST(COUNT(DISTINCT tr.i) AS BIGINT) AS hit_positions,
             CAST(COUNT(DISTINCT ev.eval_doc) AS BIGINT) AS n_eval_docs
      FROM tr JOIN ev USING (g)
      GROUP BY tr.doc_id
    ),
    sizes AS (
      SELECT doc_id, CAST(len(t) - {_DECON_K} + 1 AS BIGINT) AS n_grams
      FROM toks WHERE len(t) >= {_DECON_K} AND doc_id % 10 <> 7
    )
    SELECT h.doc_id, s.n_grams, h.hit_positions, h.n_eval_docs,
           CAST(FLOOR(1000.0 * h.hit_positions / s.n_grams) AS BIGINT)
             AS contam_permille
    FROM hits h JOIN sizes s USING (doc_id)
    ORDER BY h.doc_id
    """,
    tags=("llm", "curation"),
)
def curation_eval_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / Llama-2 13-gram
    rule): a training document is contaminated when any 13 consecutive
    tokens also appear in the held-out eval set (docs with doc_id % 10 =
    7 stand in for the benchmark). Reports, per contaminated doc, its
    gram count, how many gram positions hit, how many distinct eval docs
    it collides with, and the contamination permille — the audit table a
    pipeline publishes before every training run.

    Plan, 100 TB-first: the eval side of the join is the BENCHMARK, not
    the corpus — thousands of docs, a bounded distinct (gram, eval_doc)
    relation — so it is built once and broadcast; the corpus side is a
    map-side probe of its positional 13-grams with NO shuffle of corpus
    text (the per-doc aggregation shuffles only hit rows, whose volume
    is bounded by eval-set size × duplication, never corpus size). The
    production swap is gram → 64-bit hash pair to shrink the broadcast;
    exact strings keep the oracle comparison collision-free here."""
    from pyspark.sql import functions as F

    from ..operators.dedup import positional_shingles
    from ..operators.text import tokens

    k = _DECON_K
    docs = load_tables(spark, sf_dir, "documents").documents
    # Shingle-array build (zip_with folds), not slice-after-explode —
    # the O(k*n^2) element_at re-inlining trap (see _shingle_array).
    grams = positional_shingles(docs, k=k)
    ev = (
        grams.filter(F.col("doc_id") % 10 == 7)
        .select(F.col("sh").alias("g"), F.col("doc_id").alias("eval_doc"))
        .distinct()
    )
    tr = grams.filter(F.col("doc_id") % 10 != 7).withColumnRenamed("sh", "g")
    hits = (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("pos").cast("long").alias("hit_positions"),
            F.countDistinct("eval_doc").cast("long").alias("n_eval_docs"),
        )
    )
    sizes = docs.filter(F.col("doc_id") % 10 != 7).select(
        "doc_id", (F.size(tokens("text")) - k + 1).cast("long").alias("n_grams")
    ).filter(F.col("n_grams") >= 1)
    return (
        hits.join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "hit_positions",
            "n_eval_docs",
            F.floor(F.lit(1000.0) * F.col("hit_positions") / F.col("n_grams"))
            .cast("long")
            .alias("contam_permille"),
        )
        .orderBy("doc_id")
    )


# Wave 4 — the packing-efficiency report: before training, a pipeline
# decides how documents become fixed-length sequences. The two extremes
# bracket every real packer: concat-and-chop (GPT-style: zero padding,
# but documents straddle sequence boundaries — cross-doc attention
# contamination) and pad-per-doc (zero contamination, maximal padding).
# This table quantifies both costs per candidate context length, which is
# exactly the evidence used to pick a context size / packing strategy.
_PACK_CTX = (512, 1024, 2048)


@query(
    "curation_packing_efficiency",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  w -> len(w) > 0)) AS BIGINT) AS tok
      FROM documents
    ),
    pref AS (
      SELECT doc_id, tok,
             CAST(COALESCE(SUM(tok) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS s
      FROM toks
    ),
    x AS (
      SELECT ctx_len, tok, s FROM pref
      CROSS JOIN (VALUES {", ".join(f"({c})" for c in _PACK_CTX)})
        AS ctx(ctx_len)
    ),
    agg AS (
      SELECT ctx_len,
             CAST(SUM(tok) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN tok > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_packed,
             CAST(SUM(CASE WHEN tok > 0
                       AND s // ctx_len != (s + tok - 1) // ctx_len
                      THEN 1 ELSE 0 END) AS BIGINT) AS chop_split_docs,
             CAST(SUM((tok + ctx_len - 1) // ctx_len) AS BIGINT)
               AS pad_sequences,
             CAST(SUM(((tok + ctx_len - 1) // ctx_len) * ctx_len - tok)
               AS BIGINT) AS pad_waste_tokens
      FROM x GROUP BY ctx_len
    )
    SELECT CAST(ctx_len AS BIGINT) AS ctx_len, total_tokens, n_docs_packed,
           CAST((total_tokens + ctx_len - 1) // ctx_len AS BIGINT)
             AS chop_sequences,
           CAST(((total_tokens + ctx_len - 1) // ctx_len) * ctx_len
                - total_tokens AS BIGINT) AS chop_tail_waste,
           chop_split_docs,
           CAST(FLOOR(1000.0 * chop_split_docs / n_docs_packed) AS BIGINT)
             AS chop_split_permille,
           pad_sequences, pad_waste_tokens,
           CAST(FLOOR(1000.0 * pad_waste_tokens
                      / (pad_sequences * ctx_len)) AS BIGINT)
             AS pad_waste_permille
    FROM agg ORDER BY ctx_len
    """,
    tags=("llm", "curation"),
)
def curation_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing efficiency per candidate context length (512/1024/
    2048): under concat-and-chop, the number of sequences, tail waste,
    and how many documents straddle a boundary (the cross-doc attention
    contamination count); under pad-per-doc, the sequence count and the
    padding waste permille. The two strategies bracket every production
    packer (best-fit bin packing lands between them), so this is the
    table that justifies a context-length / packing choice.

    Plan: one tokenize pass for per-doc counts, then a running-sum window
    ordered by doc_id over the DOCUMENTS dimension (one narrow row per
    doc). That total-order window is the deliberate small-side concession
    the customer_spend_quartiles precedent documents; the 100 TB swap is
    the classic two-pass distributed prefix sum (per-partition totals →
    broadcast offsets), which preserves these exact numbers because
    doc_id order is the packing order either way. The ×3 context-length
    explode happens AFTER the window, on the narrow relation."""
    from pyspark.sql.window import Window

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
        .alias("tok"),
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    pref = toks.select(
        "tok", F.coalesce(F.sum("tok").over(w), F.lit(0)).alias("s")
    )
    ctx = spark.createDataFrame(
        [(c,) for c in _PACK_CTX], "ctx_len long"
    )
    x = pref.crossJoin(F.broadcast(ctx))
    L = F.col("ctx_len")
    agg = x.groupBy("ctx_len").agg(
        F.sum("tok").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("tok") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_packed"),
        F.sum(
            F.when(
                (F.col("tok") > 0)
                & (
                    F.floor(F.col("s") / L)
                    != F.floor((F.col("s") + F.col("tok") - 1) / L)
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("chop_split_docs"),
        F.sum(F.floor((F.col("tok") + L - 1) / L))
        .cast("long")
        .alias("pad_sequences"),
        F.sum(F.floor((F.col("tok") + L - 1) / L) * L - F.col("tok"))
        .cast("long")
        .alias("pad_waste_tokens"),
    )
    chop_seq = F.floor((F.col("total_tokens") + L - 1) / L).cast("long")
    return agg.select(
        L.cast("long").alias("ctx_len"),
        "total_tokens",
        "n_docs_packed",
        chop_seq.alias("chop_sequences"),
        (chop_seq * L - F.col("total_tokens"))
        .cast("long")
        .alias("chop_tail_waste"),
        "chop_split_docs",
        F.floor(
            F.lit(1000.0) * F.col("chop_split_docs") / F.col("n_docs_packed")
        )
        .cast("long")
        .alias("chop_split_permille"),
        "pad_sequences",
        "pad_waste_tokens",
        F.floor(
            F.lit(1000.0)
            * F.col("pad_waste_tokens")
            / (F.col("pad_sequences") * L)
        )
        .cast("long")
        .alias("pad_waste_permille"),
    ).orderBy("ctx_len")


# Wave 16 — Jensen-Shannon divergence between source unigram
# distributions (Lin 1991): the distribution-shift matrix that says
# which sources are stylistically interchangeable and which bring new
# mass — the statistical companion to curation_source_overlap_matrix
# (which sees literal near-dups only). Closed-form split keeps every
# float bounded to ONE rounding site: intersection terms contribute
# f(p,q) = (p/2)ln(p/m) + (q/2)ln(q/m) micro-rounded PER TERM (integer
# sum, order-free); the disjoint tails contribute exactly
# (ln2/2)(2 − Σ∩p − Σ∩q) where Σ∩p, Σ∩q are RATIONAL (integer count
# sums over the intersection / source totals), rounded once.
_LN2 = 0.6931471805599453  # shared literal — no engine computes ln(2)


@query(
    "text_source_jsd_matrix",
    oracle=f"""
    WITH cs AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT source, unnest(string_split_regex(text, '\\s+')) AS w
            FROM documents) WHERE len(w) > 0 GROUP BY source, w
    ),
    nt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cs GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
             CAST(SUM(a.c) AS BIGINT) AS ia, CAST(SUM(b.c) AS BIGINT) AS ib,
             CAST(SUM(CAST(ROUND((
               (CAST(a.c AS DOUBLE) / na.n / 2)
                 * ln((CAST(a.c AS DOUBLE) / na.n)
                      / ((CAST(a.c AS DOUBLE) / na.n
                          + CAST(b.c AS DOUBLE) / nb.n) / 2))
               + (CAST(b.c AS DOUBLE) / nb.n / 2)
                 * ln((CAST(b.c AS DOUBLE) / nb.n)
                      / ((CAST(a.c AS DOUBLE) / na.n
                          + CAST(b.c AS DOUBLE) / nb.n) / 2))
             ) * 1000000) AS BIGINT)) AS BIGINT) AS jsd_core_micro,
             CAST(MAX(na.n) AS BIGINT) AS n_a, CAST(MAX(nb.n) AS BIGINT) AS n_b
      FROM cs a JOIN cs b ON a.w = b.w AND a.source < b.source
      JOIN nt na ON na.source = a.source
      JOIN nt nb ON nb.source = b.source
      GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, n_shared_terms,
           CAST(jsd_core_micro + CAST(ROUND({_LN2} / 2
                * (2.0 - CAST(ia AS DOUBLE) / n_a - CAST(ib AS DOUBLE) / n_b)
                * 1000000) AS BIGINT) AS BIGINT) AS jsd_micro
    FROM inter ORDER BY source_a, source_b
    """,
    tags=("llm", "text", "curation"),
)
def text_source_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every source pair's unigram
    distribution (Lin 1991; 0 = identical, ln 2 = disjoint): the
    which-sources-are-interchangeable matrix a mixture designer reads
    next to the near-dup overlap matrix. Exactness recipe: intersection
    terms are micro-rounded per (pair, term) and integer-summed; the
    disjoint-tail mass needs NO per-term floats at all — it reduces to
    (ln2/2)·(2 − Σ∩p − Σ∩q) with the sums exact rationals from integer
    counts, rounded once, and ln 2 is a shared literal so no engine's
    ln(2) is ever consulted.

    Plan, 100 TB-first: one (source, word) count aggregation; the pair
    relation is a term-keyed equi-join (never source × source × vocab);
    per-pair volume is intersection size, bounded by vocabulary."""
    docs = load_tables(spark, sf_dir, "documents").documents
    cs = word_counts(docs, "source", "c")
    nt = cs.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    a = cs.select(
        F.col("source").alias("source_a"), "w", F.col("c").alias("ca")
    ).join(F.broadcast(nt.select(F.col("source").alias("source_a"), F.col("n").alias("na"))), "source_a")
    b = cs.select(
        F.col("source").alias("source_b"), "w", F.col("c").alias("cb")
    ).join(F.broadcast(nt.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))), "source_b")
    p = F.col("ca").cast("double") / F.col("na")
    q = F.col("cb").cast("double") / F.col("nb")
    m = (F.col("ca").cast("double") / F.col("na") + F.col("cb").cast("double") / F.col("nb")) / 2
    term = F.round(((p / 2) * F.log(p / m) + (q / 2) * F.log(q / m)) * 1_000_000).cast("long")
    inter = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_terms"),
            F.sum("ca").cast("long").alias("ia"),
            F.sum("cb").cast("long").alias("ib"),
            F.sum(term).cast("long").alias("jsd_core_micro"),
            F.max("na").cast("long").alias("n_a"),
            F.max("nb").cast("long").alias("n_b"),
        )
    )
    tail = F.round(
        F.lit(_LN2)
        / 2
        * (
            F.lit(2.0)
            - F.col("ia").cast("double") / F.col("n_a")
            - F.col("ib").cast("double") / F.col("n_b")
        )
        * 1_000_000
    ).cast("long")
    return inter.select(
        "source_a",
        "source_b",
        "n_shared_terms",
        (F.col("jsd_core_micro") + tail).cast("long").alias("jsd_micro"),
    ).orderBy("source_a", "source_b")


# Wave 18 — Burrows' Delta (Burrows 2002, "'Delta': a Measure of
# Stylistic Difference"; Evert et al. 2017 for the modern formulation):
# the stylometric distance between sources over the z-scored relative
# frequencies of the most frequent words. Complements
# text_source_jsd_matrix: JSD sees raw distribution mass, Delta
# normalizes each word by its cross-source dispersion, which is what
# makes it the standard authorship/register signal. Fixed-point recipe:
# ONE rounding per (source, word) relative frequency, ONE per-word
# rounded sqrt for the dispersion, ONE rounding per z-score — every
# aggregation in between is exact integer arithmetic (n·S2 − S1² is n²
# times the variance of the integer micro frequencies).
_DELTA_TOP_WORDS = 20


def _build_burrows_oracle() -> str:
    n = "(SELECT CAST(COUNT(*) AS BIGINT) FROM srcs)"
    return f"""
    WITH cs AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT source, unnest(string_split_regex(text, '\\s+')) AS w
            FROM documents) WHERE len(w) > 0 GROUP BY source, w
    ),
    srcs AS (SELECT DISTINCT source FROM cs),
    nt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cs GROUP BY source),
    topw AS (
      SELECT w FROM (SELECT w, SUM(c) AS tc FROM cs GROUP BY w
                     ORDER BY tc DESC, w LIMIT {_DELTA_TOP_WORDS})
    ),
    fm AS (
      SELECT s.source, t.w,
             CAST(ROUND(1000000.0 * COALESCE(cs.c, 0) / nt.n) AS BIGINT)
               AS f
      FROM srcs s CROSS JOIN topw t
      LEFT JOIN cs ON cs.source = s.source AND cs.w = t.w
      JOIN nt ON nt.source = s.source
    ),
    ws AS (
      SELECT w, CAST(SUM(f) AS BIGINT) AS s1,
             CAST(SUM(f * f) AS BIGINT) AS s2
      FROM fm GROUP BY w
    ),
    z AS (
      SELECT fm.source, fm.w,
             CASE WHEN {n} * ws.s2 - ws.s1 * ws.s1 = 0 THEN 0
                  ELSE CAST(ROUND(1000.0 * ({n} * fm.f - ws.s1)
                       / CAST(ROUND(SQRT(CAST({n} * ws.s2
                              - ws.s1 * ws.s1 AS DOUBLE))) AS BIGINT))
                       AS BIGINT) END AS zm
      FROM fm JOIN ws USING (w)
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(SUM(abs(a.zm - b.zm)) // {_DELTA_TOP_WORDS} AS BIGINT)
             AS delta_milli
    FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
    GROUP BY a.source, b.source ORDER BY source_a, source_b"""


@query(
    "text_burrows_delta_matrix",
    oracle=_build_burrows_oracle(),
    tags=("llm", "text", "curation"),
)
def text_burrows_delta_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between every source pair (Burrows 2002): mean
    |z_a − z_b| over the z-scored relative frequencies of the top-20
    corpus words — the classic stylometric register/authorship distance,
    dispersion-normalized where text_source_jsd_matrix is raw-mass. Every
    float is a single defined rounding site (per-cell relative frequency
    micro, per-word rounded sqrt of the exact integer n·S2 − S1², per-cell
    z milli); all sums are integer, so the 190-row matrix is hash-stable.
    Zero-dispersion words (identical frequency everywhere) contribute
    z = 0 by the stated rule.

    Plan: one (source, word) count, a 20-row broadcast top-word list, a
    (source × topw) frame of 400 cells, and a word-keyed pair join —
    dimension-sized end to end after the first aggregation."""
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, "documents").documents
    cs = word_counts(docs, "source", "c")
    nt = cs.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    topw = (
        cs.groupBy("w")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.col("tc").desc(), "w")
        .limit(_DELTA_TOP_WORDS)
        .select("w")
    )
    srcs = cs.select("source").distinct()
    n_src = F.col("n_src")
    fm = (
        srcs.crossJoin(F.broadcast(topw))
        .join(cs, ["source", "w"], "left")
        .join(F.broadcast(nt), "source")
        .crossJoin(
            F.broadcast(srcs.agg(F.count(F.lit(1)).cast("long").alias("n_src")))
        )
        .select(
            "source",
            "w",
            "n_src",
            F.round(
                F.lit(1_000_000.0) * F.coalesce(F.col("c"), F.lit(0)) / F.col("n")
            )
            .cast("long")
            .alias("f"),
        )
    )
    ws = fm.groupBy("w", "n_src").agg(
        F.sum("f").cast("long").alias("s1"),
        F.sum(F.col("f") * F.col("f")).cast("long").alias("s2"),
    )
    var_scaled = n_src * F.col("s2") - F.col("s1") * F.col("s1")
    std_r = F.round(F.sqrt(var_scaled.cast("double"))).cast("long")
    z = fm.join(ws, ["w", "n_src"]).select(
        "source",
        "w",
        F.when(var_scaled == 0, F.lit(0).cast("long"))
        .otherwise(
            F.round(
                F.lit(1000.0) * (n_src * F.col("f") - F.col("s1")) / std_r
            ).cast("long")
        )
        .alias("zm"),
    )
    a = z.select(F.col("source").alias("source_a"), "w", F.col("zm").alias("za"))
    b = z.select(F.col("source").alias("source_b"), "w", F.col("zm").alias("zb"))
    return (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.floor(
                F.sum(F.abs(F.col("za") - F.col("zb"))) / _DELTA_TOP_WORDS
            )
            .cast("long")
            .alias("delta_milli")
        )
        .orderBy("source_a", "source_b")
    )
