"""Tokenizer counts and comparisons: BPE, WordPiece and unigram.
"""

from __future__ import annotations

import os
import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import word_counts
from ..operators.unigram import UNK_COST
from ..sources.tables import load_tables
from .fragments import ORACLE_SF_DIR
from .registry import query


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


_BPE_MERGES = 24


_bpe_cache: dict[str, object] = {}


def bpe_train_py(parquet_path: str, n_merges: int = _BPE_MERGES):
    """Import-time oracle-trainer: DuckDB word counts from the gate corpus
    → the pure-python BPE trainer (operators/bpe.py_train_bpe, byte-level
    contract-identical to the distributed trainer). Returns the merge list
    or None when the gate parquet is absent."""
    key = f"{parquet_path}|{n_merges}"
    if key not in _bpe_cache:
        if not os.path.exists(parquet_path):
            return None  # absent gate data: expected skip, not cached;
            # training errors on present data propagate (r3 ADVICE #1)
        import duckdb

        from ..operators.bpe import py_train_bpe

        rows = duckdb.sql(
            f"SELECT w, COUNT(*) AS n FROM (SELECT unnest("
            f"string_split_regex(text, '\\s+')) AS w FROM "
            f"'{parquet_path}') WHERE len(w) > 0 GROUP BY w"
        ).fetchall()
        _bpe_cache[key] = py_train_bpe({w: int(n) for w, n in rows}, n_merges)
    return _bpe_cache[key]


def _sq(s: str) -> str:
    return s.replace("'", "''")


def _duck_merge_chain(merges) -> str:
    """DuckDB ``replace()`` chain applying ``merges`` in order to the
    space-separated symbols of ``s0``."""
    s = "s0"
    for left, right, _x in merges:
        s = (
            f"replace({s}, ' {_sq(left)} {_sq(right)} ',"
            f" ' {_sq(left)}{_sq(right)} ')"
        )
    return s


def _duck_merge_token_counts(merges, col: str) -> str:
    """Oracle of a merge-list tokenizer (BPE, WordPiece): per document the
    word count and the token count ``col`` after applying ``merges``."""
    return f"""
    WITH words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
        FROM documents
      ) WHERE len(w) > 0
    ), ap AS (
      SELECT doc_id, {_duck_merge_chain(merges)} AS s FROM (
        SELECT doc_id,
               ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s0
        FROM words
      )
    ), tok AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(len(string_split(trim(s), ' '))) AS BIGINT)
               AS {col}
      FROM ap GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(t.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(t.{col}, 0) AS BIGINT) AS {col}
    FROM documents d LEFT JOIN tok t USING (doc_id)
    ORDER BY d.doc_id"""


def _build_bpe_oracle() -> str | None:
    merges = bpe_train_py(os.path.join(ORACLE_SF_DIR, "documents.parquet"))
    if merges is None:
        return None
    return _duck_merge_token_counts(merges, "n_bpe_tokens")


def bpe_train_spark(spark: SparkSession, sf_dir: str):
    """Memoized DISTRIBUTED training run (operators/bpe.train_bpe) over the
    gate corpus — the registered query uses this, so the driver's value
    hash checks the distributed trainer end-to-end against the oracle's
    pure-python trainer: if any round's pair count, argmax tie-break, or
    merge application diverged, the learned merges — and hence every
    token count — would differ."""
    key = f"spark|{sf_dir}|{_BPE_MERGES}"
    if key not in _bpe_cache:
        from ..operators.bpe import train_bpe

        t = load_tables(spark, sf_dir, "documents")
        _bpe_cache[key] = train_bpe(t.documents, _BPE_MERGES)
    return _bpe_cache[key]


@query(
    "tokenizer_bpe_counts",
    oracle=_build_bpe_oracle(),
    tags=("llm", "text"),
)
def tokenizer_bpe_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer (arXiv:1508.07909, operators/bpe.py): train 24 merges
    DISTRIBUTED on the gate corpus (word-frequency table → per-round
    pair-count shuffle + 1-row argmax + map-side merge; memoized
    per-process), then apply corpus-wide as a pure projection (merge list
    baked into the expression tree — zero shuffles, zero Python). Output =
    per-doc whitespace-word and BPE-token counts; the oracle retrains with
    the pure-python reference trainer and re-applies in SQL, so the driver
    hash proves trainer parity end-to-end."""
    from ..operators.bpe import bpe_token_count

    gate = ORACLE_SF_DIR if os.path.exists(
        os.path.join(ORACLE_SF_DIR, "documents.parquet")
    ) else sf_dir
    merges = bpe_train_spark(spark, gate)
    t = load_tables(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    return t.documents.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        bpe_token_count("text", merges).alias("n_bpe_tokens"),
    ).orderBy("doc_id")


_WP_MERGES = 24


_wp_cache: dict = {}


def _wp_train_py(parquet_path: str):
    key = f"{parquet_path}|{_WP_MERGES}"
    if key not in _wp_cache:
        # Only a MISSING gate parquet is an expected skip (fresh checkout
        # without testdata). Any error raised by actual training must
        # propagate — swallowing it would silently register oracle=None and
        # drop the query from every sweep (r3 ADVICE.md item #1).
        if not _os.path.exists(parquet_path):
            return None
        import duckdb

        from ..operators.bpe import py_train_wordpiece

        rows = duckdb.sql(
            f"SELECT w, COUNT(*) AS n FROM (SELECT unnest("
            f"string_split_regex(text, '\\s+')) AS w FROM "
            f"'{parquet_path}') WHERE len(w) > 0 GROUP BY w"
        ).fetchall()
        merges = py_train_wordpiece({w: int(n) for w, n in rows}, _WP_MERGES)
        _wp_cache[key] = merges
    return _wp_cache[key]


def _build_wp_oracle() -> str | None:

    merges = _wp_train_py(_os.path.join(ORACLE_SF_DIR, "documents.parquet"))
    if merges is None:
        return None
    return _duck_merge_token_counts(merges, "n_wp_tokens")


def _wp_train_spark(spark: SparkSession, sf_dir: str):
    """Memoized DISTRIBUTED WordPiece training over the gate corpus — the
    registered query uses this, so the driver hash proves the distributed
    likelihood-scored trainer equals the pure-python reference (any
    divergence in a round's pair/symbol counts, fixed-point score, or
    tie-break changes the merges and every downstream count)."""
    key = f"spark|{sf_dir}|{_WP_MERGES}"
    if key not in _wp_cache:
        from ..operators.bpe import train_wordpiece

        t = load_tables(spark, sf_dir, "documents")
        _wp_cache[key] = train_wordpiece(t.documents, _WP_MERGES)
    return _wp_cache[key]


@query(
    "tokenizer_wordpiece_counts",
    oracle=_build_wp_oracle(),
    tags=("llm", "text"),
)
def tokenizer_wordpiece_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer (Schuster & Nakajima 2012; operators/bpe.py
    `train_wordpiece`): the likelihood-gain selection rule —
    ``count(ab)/(count(a)·count(b))`` as exact fixed-point integers —
    trained DISTRIBUTED on the gate corpus, applied corpus-wide as a pure
    projection (merge list baked into the expression tree; zero shuffles,
    zero Python). Completes the tokenizer-trainer family next to BPE: same
    word-table economics, different (and provably different — see the
    pytest pin) argmax. The oracle retrains with the pure-python reference
    and re-applies in SQL."""
    from ..operators.bpe import bpe_token_count

    gate = ORACLE_SF_DIR if _os.path.exists(
        _os.path.join(ORACLE_SF_DIR, "documents.parquet")
    ) else sf_dir
    merges = _wp_train_spark(spark, gate)
    t = load_tables(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    return t.documents.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        bpe_token_count("text", merges).alias("n_wp_tokens"),
    ).orderBy("doc_id")


#: DP encode moduli — MUST match operators/unigram.py (_TOK_MOD, _K_MOD).
_TOK_MOD = 1024


_K_MOD = 8


def _duck_viterbi_dp(words: str) -> str:
    """The recursive unigram-Viterbi ``dp`` CTE over the distinct words
    relation ``words(w)`` (needs ``WITH RECURSIVE`` and a
    ``vocab(piece, cost)`` CTE); ``best[len(w)+1] % _TOK_MOD`` is the
    word's token count."""
    return f"""dp AS (
      SELECT w, 0 AS i, [CAST(0 AS BIGINT)] AS best FROM {words}
      UNION ALL
      SELECT d.w, d.i + 1, list_append(d.best, CAST(least(
          (d.best[d.i+1] + (COALESCE(v1.cost, {UNK_COST}) * {_TOK_MOD} + 1))
            * {_K_MOD} + 1,
          CASE WHEN d.i+1 >= 2 AND v2.cost IS NOT NULL
               THEN (d.best[d.i]   + (v2.cost * {_TOK_MOD} + 1))
                      * {_K_MOD} + 2 END,
          CASE WHEN d.i+1 >= 3 AND v3.cost IS NOT NULL
               THEN (d.best[d.i-1] + (v3.cost * {_TOK_MOD} + 1))
                      * {_K_MOD} + 3 END,
          CASE WHEN d.i+1 >= 4 AND v4.cost IS NOT NULL
               THEN (d.best[d.i-2] + (v4.cost * {_TOK_MOD} + 1))
                      * {_K_MOD} + 4 END
        ) // {_K_MOD} AS BIGINT))
      FROM dp d
      LEFT JOIN vocab v1 ON v1.piece = substr(d.w, d.i + 1, 1)
      LEFT JOIN vocab v2 ON v2.piece = substr(d.w, d.i,     2)
      LEFT JOIN vocab v3 ON v3.piece = substr(d.w, d.i - 1, 3)
      LEFT JOIN vocab v4 ON v4.piece = substr(d.w, d.i - 2, 4)
      WHERE d.i < len(d.w)
    )"""


_uni_cache: dict[str, object] = {}


def unigram_train_py(parquet_path: str):
    """Import-time oracle trainer: DuckDB word counts from the gate corpus
    → the pure-python unigram trainer (operators/unigram.py_train_unigram,
    integer-exact contract-identical to the distributed trainer). Returns
    the (piece, n_viterbi, cost_micro) list or None when the gate parquet
    is absent (absent gate: expected skip, not cached; training errors on
    present data propagate — the bpe_train_py contract)."""
    key = f"py|{parquet_path}"
    if key not in _uni_cache:
        if not os.path.exists(parquet_path):
            return None
        import duckdb

        from ..operators.unigram import py_train_unigram

        rows = duckdb.sql(
            f"SELECT w, COUNT(*) AS n FROM (SELECT unnest("
            f"string_split_regex(text, '\\s+')) AS w FROM "
            f"'{parquet_path}') WHERE len(w) > 0 GROUP BY w"
        ).fetchall()
        _uni_cache[key] = py_train_unigram({w: int(n) for w, n in rows})
    return _uni_cache[key]


def unigram_train_spark(spark: SparkSession, sf_dir: str):
    """Memoized DISTRIBUTED training run (operators/unigram.train_unigram)
    over the gate corpus — the registered query returns this table, so the
    driver's value hash checks the distributed trainer end-to-end against
    the oracle's pure-python trainer: if any seed count, Viterbi tie-break,
    E-step count, pruning decision, or M-step cost diverged, some row of
    the vocabulary would differ."""
    key = f"spark|{sf_dir}"
    if key not in _uni_cache:
        from ..operators.unigram import train_unigram

        t = load_tables(spark, sf_dir, "documents")
        _uni_cache[key] = train_unigram(t.documents)
    return _uni_cache[key]


def _gate(sf_dir: str) -> str:
    return (
        ORACLE_SF_DIR
        if os.path.exists(os.path.join(ORACLE_SF_DIR, "documents.parquet"))
        else sf_dir
    )


def _build_unigram_vocab_oracle() -> str | None:
    vocab = unigram_train_py(os.path.join(ORACLE_SF_DIR, "documents.parquet"))
    if vocab is None:
        return None
    vals = ", ".join(
        f"('{_sq(p)}', CAST({c} AS BIGINT), CAST({co} AS BIGINT))"
        for p, c, co in vocab
    )
    return f"""
    SELECT piece, n_viterbi, cost_micro
    FROM (VALUES {vals}) AS t(piece, n_viterbi, cost_micro)
    ORDER BY piece"""


def _build_unigram_apply_oracle() -> str | None:
    """Recursive-CTE replay of the exact integer-encode Viterbi DP
    (operators/unigram.py module docstring): best[i+1] = min over piece
    length k of ((best[i+1-k] + cost·1024 + 1)·8 + k) // 8, vocabulary
    baked as VALUES from the pure-python trainer. DP runs once per
    DISTINCT word; token counts join back by word — the same plan the
    Spark side uses."""
    vocab = unigram_train_py(os.path.join(ORACLE_SF_DIR, "documents.parquet"))
    if vocab is None:
        return None
    vals = ", ".join(
        f"('{_sq(p)}', CAST({co} AS BIGINT))" for p, _c, co in vocab
    )
    return f"""
    WITH RECURSIVE vocab(piece, cost) AS (VALUES {vals}),
    toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
    ),
    occ AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM (SELECT doc_id, unnest(t) AS w FROM toks)
      WHERE len(w) > 0 GROUP BY doc_id, w
    ),
    words AS (SELECT DISTINCT w FROM occ),
    {_duck_viterbi_dp("words")},
    wt AS (
      SELECT w, CAST(best[len(w)+1] % {_TOK_MOD} AS BIGINT) AS n_tok
      FROM dp WHERE i = len(w)
    ),
    per_doc AS (
      SELECT o.doc_id, CAST(SUM(o.n_occ) AS BIGINT) AS n_words,
             CAST(SUM(o.n_occ * wt.n_tok) AS BIGINT) AS n_unigram_tokens
      FROM occ o JOIN wt USING (w) GROUP BY o.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(p.n_unigram_tokens, 0) AS BIGINT) AS n_unigram_tokens
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    ORDER BY d.doc_id"""


@query(
    "tokenizer_unigram_counts",
    oracle=_build_unigram_vocab_oracle(),
    tags=("llm", "text"),
)
def tokenizer_unigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece) tokenizer trainer (Kudo 2018,
    arXiv:1804.10959; operators/unigram.py): Viterbi-EM over the
    word-frequency table with fixed-point micro-nat likelihoods and a
    deterministic pruning order, trained DISTRIBUTED on the gate corpus
    (seed-substring aggregation + one explode/piece-count shuffle per EM
    round over the vocab-bounded word table; memoized per-process).
    Output = the final vocabulary (piece, Viterbi count, cost). The
    oracle retrains with the pure-python reference trainer at import
    time and bakes the result as golden VALUES, so the driver hash
    proves distributed-vs-python trainer parity end-to-end — the
    tokenizer_bpe_counts proof, applied to EM. Constant across sf_dir by
    design (the gate corpus pins the training set, the whiten_fit /
    bpe_train posture)."""
    gate = _gate(sf_dir)
    vocab = unigram_train_spark(spark, gate)
    return spark.createDataFrame(
        vocab, "piece string, n_viterbi long, cost_micro long"
    ).orderBy("piece")


@query(
    "tokenizer_unigram_token_counts",
    oracle=_build_unigram_apply_oracle(),
    tags=("llm", "text"),
)
def tokenizer_unigram_token_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus-wide unigram-LM tokenizer application: per-doc whitespace
    word count and Viterbi-best subword token count under the vocabulary
    trained on the gate corpus (see tokenizer_unigram_counts).

    Plan, 100 TB-first: the Viterbi DP (an integer-encode aggregate fold,
    operators/unigram.viterbi_token_count — zero Python, zero shuffle)
    runs once per DISTINCT word, never per occurrence; the corpus-side
    cost is one (doc_id, word) count aggregation plus a broadcast
    join-back of the word→token-count table (vocabulary-bounded). The
    DuckDB oracle replays the identical DP as a recursive CTE, so the
    hash proves the segmentation itself, not just totals."""
    from ..operators.unigram import _cost_map_literal, viterbi_token_count

    gate = _gate(sf_dir)
    vocab = unigram_train_spark(spark, gate)
    costs = {p: int(co) for p, _c, co in vocab}

    docs = load_tables(spark, sf_dir, "documents").documents
    occ = word_counts(docs, "doc_id", "n_occ")
    # The word table is a distinct over the corpus tokens. Catalyst prunes
    # this branch to a TEXT-ONLY scan + explode + distinct — i.e. the
    # corpus is tokenized twice (once for occ, once here); an aggregate
    # "barrier" (groupBy(w).sum(n_occ)) does not help, the optimizer
    # eliminates the unused sum and collapses the nested aggregate right
    # back to this shape. At 100 TB the swap is one occ
    # cache/localCheckpoint, trading the second scan for a materialized
    # (doc, word) relation — not worth it at bench scale, stated here so
    # the double-scan is a decision, not an accident.
    wt = (
        occ.select("w")
        .distinct()
        .select(
            "w",
            viterbi_token_count(
                F.col("w"), _cost_map_literal(costs)
            ).alias("n_tok"),
        )
    )
    per_doc = (
        occ.join(F.broadcast(wt), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("n_tok"))
            .cast("long")
            .alias("n_unigram_tokens"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_unigram_tokens", F.lit(0))
            .cast("long")
            .alias("n_unigram_tokens"),
        )
        .orderBy("doc_id")
    )


# Wave 3 — the tokenizer evaluation table: with all three trainers in the
# repo (BPE arXiv:1508.07909, WordPiece Schuster & Nakajima 2012, unigram
# Kudo arXiv:1804.10959), the table a pipeline publishes to CHOOSE one is
# the per-source compression/fertility comparison (chars per token per
# tokenizer — e.g. the fertility tables in the XLM-R and BLOOM tokenizer
# analyses). All three vocabularies come from the same gate corpus, so
# the comparison is apples-to-apples.
def _build_family_compare_oracle() -> str | None:

    gate_pq = os.path.join(ORACLE_SF_DIR, "documents.parquet")
    uni = unigram_train_py(gate_pq)
    bpe = bpe_train_py(gate_pq)
    wp = _wp_train_py(gate_pq)
    if uni is None or bpe is None or wp is None:
        return None
    vals = ", ".join(
        f"('{_sq(p)}', CAST({co} AS BIGINT))" for p, _c, co in uni
    )
    spaced = "' ' || array_to_string(string_split(w, ''), ' ') || ' '"
    return f"""
    WITH RECURSIVE vocab(piece, cost) AS (VALUES {vals}),
    words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
        FROM documents
      ) WHERE len(w) > 0
    ),
    occ AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM words GROUP BY doc_id, w
    ),
    dwords AS (SELECT DISTINCT w FROM occ),
    {_duck_viterbi_dp("dwords")},
    wt_uni AS (
      SELECT w, CAST(best[len(w)+1] % {_TOK_MOD} AS BIGINT) AS n_uni
      FROM dp WHERE i = len(w)
    ),
    wt_bpe AS (
      SELECT w, CAST(len(string_split(trim({_duck_merge_chain(bpe)}), ' '))
               AS BIGINT) AS n_bpe
      FROM (SELECT w, {spaced} AS s0 FROM dwords)
    ),
    wt_wp AS (
      SELECT w, CAST(len(string_split(trim({_duck_merge_chain(wp)}), ' '))
               AS BIGINT) AS n_wp
      FROM (SELECT w, {spaced} AS s0 FROM dwords)
    ),
    per_doc AS (
      SELECT o.doc_id,
             CAST(SUM(o.n_occ) AS BIGINT) AS ws,
             CAST(SUM(o.n_occ * len(o.w)) AS BIGINT) AS chars,
             CAST(SUM(o.n_occ * wt_bpe.n_bpe) AS BIGINT) AS bpe,
             CAST(SUM(o.n_occ * wt_wp.n_wp) AS BIGINT) AS wp,
             CAST(SUM(o.n_occ * wt_uni.n_uni) AS BIGINT) AS uni
      FROM occ o
      JOIN wt_uni USING (w) JOIN wt_bpe USING (w) JOIN wt_wp USING (w)
      GROUP BY o.doc_id
    ),
    src AS (
      SELECT d.source,
             COALESCE(p.ws, 0) AS ws, COALESCE(p.chars, 0) AS chars,
             COALESCE(p.bpe, 0) AS bpe, COALESCE(p.wp, 0) AS wp,
             COALESCE(p.uni, 0) AS uni
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(chars) AS BIGINT) AS n_chars,
           CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
           CAST(SUM(wp) AS BIGINT) AS wp_tokens,
           CAST(SUM(uni) AS BIGINT) AS unigram_tokens,
           CAST(CASE WHEN SUM(bpe) > 0
                THEN FLOOR(1000000.0 * SUM(chars) / SUM(bpe)) END
             AS BIGINT) AS bpe_cpt_micro,
           CAST(CASE WHEN SUM(wp) > 0
                THEN FLOOR(1000000.0 * SUM(chars) / SUM(wp)) END
             AS BIGINT) AS wp_cpt_micro,
           CAST(CASE WHEN SUM(uni) > 0
                THEN FLOOR(1000000.0 * SUM(chars) / SUM(uni)) END
             AS BIGINT) AS uni_cpt_micro
    FROM src GROUP BY source ORDER BY source"""


@query(
    "tokenizer_family_compare",
    oracle=_build_family_compare_oracle(),
    tags=("llm", "text"),
)
def tokenizer_family_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer comparison across the whole trained family —
    whitespace words, BPE, WordPiece, and unigram-LM token totals plus
    chars-per-token in integer micros (the compression/fertility table a
    pipeline publishes to choose its tokenizer; all three vocabularies
    trained on the same gate corpus, so the comparison is
    apples-to-apples). The oracle retrains all three tokenizers with
    their pure-python references and replays all three apply paths
    (replace chains for BPE/WordPiece, the recursive-CTE Viterbi DP for
    unigram) — one hash covers trainer AND apply parity for the family.

    Plan, 100 TB-first: every tokenizer is applied once per DISTINCT
    word (the merge chains and the DP are pure projections over the
    vocabulary-bounded word table), weighted back through one broadcast
    join; the corpus-side work is a single (doc_id, word) aggregation
    and a source rollup."""
    from ..operators.bpe import bpe_token_count
    from ..operators.unigram import _cost_map_literal, viterbi_token_count

    gate = _gate(sf_dir)
    bpe_merges = bpe_train_spark(spark, gate)
    wp_merges = _wp_train_spark(spark, gate)
    costs = {p: int(co) for p, _c, co in unigram_train_spark(spark, gate)}

    docs = load_tables(spark, sf_dir, "documents").documents
    occ = word_counts(docs, "doc_id", "n_occ")
    # Distinct-word table: same deliberately-accepted second text-only
    # scan as tokenizer_unigram_token_counts (see the comment there); all
    # three tokenizer applies ride this ONE relation as projections.
    wt = (
        occ.select("w")
        .distinct()
        .select(
            "w",
            F.length("w").cast("long").alias("w_chars"),
            bpe_token_count(F.col("w"), bpe_merges).alias("n_bpe"),
            bpe_token_count(F.col("w"), wp_merges).alias("n_wp"),
            viterbi_token_count(
                F.col("w"), _cost_map_literal(costs)
            ).alias("n_uni"),
        )
    )
    per_doc = (
        occ.join(F.broadcast(wt), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("ws"),
            F.sum(F.col("n_occ") * F.col("w_chars")).cast("long").alias("chars"),
            F.sum(F.col("n_occ") * F.col("n_bpe")).cast("long").alias("bpe"),
            F.sum(F.col("n_occ") * F.col("n_wp")).cast("long").alias("wp"),
            F.sum(F.col("n_occ") * F.col("n_uni")).cast("long").alias("uni"),
        )
    )

    def cpt(tok: str):
        return (
            F.when(
                F.sum(tok) > 0,
                F.floor(F.lit(1_000_000.0) * F.sum("chars") / F.sum(tok)),
            )
            .cast("long")
            .alias(f"{'uni' if tok == 'uni' else tok}_cpt_micro")
        )

    return (
        docs.select("doc_id", "source")
        .join(per_doc, "doc_id", "left")
        .select(
            "source",
            *[
                F.coalesce(c, F.lit(0)).alias(c)
                for c in ("ws", "chars", "bpe", "wp", "uni")
            ],
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("chars").cast("long").alias("n_chars"),
            F.sum("ws").cast("long").alias("ws_tokens"),
            F.sum("bpe").cast("long").alias("bpe_tokens"),
            F.sum("wp").cast("long").alias("wp_tokens"),
            F.sum("uni").cast("long").alias("unigram_tokens"),
            cpt("bpe"),
            cpt("wp"),
            cpt("uni"),
        )
        .orderBy("source")
    )
