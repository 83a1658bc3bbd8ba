"""Round-8 operator waves.

Wave 1 — the unigram-LM (SentencePiece) tokenizer trainer (r7 judge task
#1, carried from r6): completes the BPE / WordPiece / unigram trainer
family in :mod:`..operators.bpe` / :mod:`..operators.unigram`.

- ``tokenizer_unigram_counts`` — the trainer-parity query: the DISTRIBUTED
  trainer's final vocabulary (piece, Viterbi count, fixed-point micro-nat
  cost) against a golden-VALUES oracle built at import time by the
  pure-python reference trainer — the BPE hash-proof pattern, applied to
  Viterbi-EM.
- ``tokenizer_unigram_token_counts`` — the application query: per-doc
  Viterbi token counts corpus-wide; the DuckDB oracle replays the exact
  integer-encode DP as a recursive CTE over the distinct-word table.

House rules (llm_ops.py): integer fixed-point only, deterministic
ordering, every aggregate aliased identically in Spark and the oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.unigram import UNK_COST
from ..sources.tables import load_tables
from .llm_ops import (
    DUCK_SHINGLE_SETS,
    NEAR_DUP_PAIRS,
    ORACLE_SF_DIR,
    undirected_edges_sql,
)
from .llm_ops4 import _duck_merge_chain, _sq
from .registry import query

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


def _word_counts(docs: DataFrame, key: str, alias: str) -> DataFrame:
    """(``key``, w, ``alias``): whitespace-token counts per ``key``
    (doc_id or source), empty tokens dropped."""
    return (
        docs.select(
            key,
            F.explode(
                F.filter(
                    F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                    lambda x: F.length(x) > 0,
                )
            ).alias("w"),
        )
        .groupBy(key, "w")
        .agg(F.count(F.lit(1)).cast("long").alias(alias))
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
    occ = _word_counts(docs, "doc_id", "n_occ")
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


# ---------------------------------------------------------------- winnowing
# Wave 2 — winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
# SIGMOD 2003: "Winnowing: Local Algorithms for Document Fingerprinting",
# the MOSS algorithm). The guarantee the paper proves: selecting, from
# every window of W consecutive k-gram hashes, the minimal hash (rightmost
# on ties) yields a fingerprint DENSITY of ~2/(W+1) while still detecting
# every shared substring of length >= W + k - 1 tokens. The selection is
# purely local, which is exactly what makes it embarrassingly distributed:
# no fingerprint depends on anything outside a W-hash neighbourhood.

#: k-gram size (tokens) for winnowing.
_WIN_K = 3
#: winnowing window: W consecutive k-gram hashes per selection window.
_WIN_W = 4
#: position slot in the (hash, position) argmin encode; bounds documents
#: to 2^20 k-gram positions (1M tokens) — stated, not silently truncated.
_POS_MOD = 1 << 20
#: boilerplate guard for the match step: fingerprint hashes appearing in
#: more than this many documents are dropped (MOSS ignores matches that
#: occur in "too many documents" for the same reason — they are shared
#: boilerplate, and at scale they are also the quadratic-bucket skew).
_WIN_MAX_DF = 50
#: a pair needs at least this many shared fingerprints to be reported.
_WIN_MIN_SHARED = 3

#: portable polynomial-hash modulus (operators/text.py MOD).
_HASH_MOD = 1_000_000_007


def _winnow_prints_df(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """(doc_id, n_pos, fp_h, fp_pos): the winnowed fingerprint set.

    The argmin inside each window is the integer encode
    ``h·2^20 + (2^20-1-pos)`` — minimal hash first, RIGHTMOST position on
    hash ties (the paper's robust-winnowing tie rule). Hashes are computed
    ONCE per k-gram position; the per-window minimum is a frame-bounded
    window ``MIN`` over the trailing W positions (r12: previously a ×W
    ``explode(sequence(...))`` + (doc, n_pos, e)-keyed aggregate — the
    window form computes the identical ``MIN(enc)`` per window end e while
    removing the W× row fan-out AND the groupBy exchange: the fan_out
    hash-partitioning on doc_id is reused, so selection adds only a local
    per-doc sort; guide §2.4).

    r13: the per-position hash comes from
    :func:`..operators.dedup.positional_shingle_hashes` — the composed
    per-token fold (bit-identical to ``char_fold_hash`` of the shingle
    string, pinned by tests/test_fold_composition.py) — so the shingle
    STRINGS are never materialized on this path at all: the string build
    (two zip_with concats per position) plus the per-character re-fold
    was the measured wall of every winnowing consumer (guide §1.2:
    don't compute things you throw away).

    Determinism precondition (ADVICE note): the trailing-W ROWS frame
    orders by ``pos``, which is unique per document ONLY because
    ``doc_id`` is unique in the documents table (the corpus fixture
    contract every registered query already relies on — exact-dedup
    keys, cluster mins). A duplicated doc_id would give orderBy('pos')
    ties and a nondeterministic frame subset; if this is ever fed
    non-fixture data, add a deterministic secondary sort key."""
    from pyspark.sql.window import Window

    from ..operators.dedup import positional_shingle_hashes

    hashed = (
        positional_shingle_hashes(docs, "text", "doc_id", _WIN_K)
        .filter(F.col("n_pos") >= _WIN_W)
        .select(
            "doc_id",
            "n_pos",
            "pos",
            (
                F.col("h") * _POS_MOD
                + (F.lit(_POS_MOD - 1) - F.col("pos"))
            ).alias("enc"),
        )
    )
    wmin = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_WIN_W - 1), 0)
    )
    sel = hashed.select(
        "doc_id",
        "n_pos",
        F.col("pos").alias("e"),
        F.min("enc").over(wmin).alias("m"),
    ).filter(F.col("e") >= _WIN_W - 1)
    out = sel.select(
        "doc_id",
        "n_pos",
        F.shiftright("m", 20).alias("fp_h"),
        (
            F.lit(_POS_MOD - 1) - F.col("m").bitwiseAND(F.lit(_POS_MOD - 1))
        ).alias("fp_pos"),
    )
    # consumers that immediately re-aggregate by set semantics (the
    # collect_set per fp_h in the pairs query) skip the 4-column distinct
    # exchange — their aggregate deduplicates identically.
    return out.distinct() if distinct else out


def _duck_winnow_prints() -> str:
    """The prints relation as DuckDB CTEs (exact replay of the encode)."""
    from ..operators.text import duck_char_fold

    gram = f"list_aggregate(t[i:i+{_WIN_K}-1], 'string_agg', ' ')"
    return f"""
    toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, len(t) - {_WIN_K} + 1 AS n_pos, i - 1 AS pos,
             {duck_char_fold(gram)} AS h
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, len(t) - {_WIN_K} + 1)) AS i
            FROM toks WHERE len(t) >= {_WIN_K})
    ),
    wnd AS (
      SELECT doc_id, n_pos,
             h * {_POS_MOD} + ({_POS_MOD - 1} - pos) AS enc,
             unnest(generate_series(greatest(pos, {_WIN_W - 1}),
                                    least(pos + {_WIN_W - 1}, n_pos - 1)))
               AS e
      FROM pos WHERE n_pos >= {_WIN_W}
    ),
    sel AS (
      SELECT doc_id, n_pos, e, MIN(enc) AS m
      FROM wnd GROUP BY doc_id, n_pos, e
    ),
    prints AS (
      SELECT DISTINCT doc_id, n_pos, m // {_POS_MOD} AS fp_h,
             {_POS_MOD - 1} - (m % {_POS_MOD}) AS fp_pos
      FROM sel
    )"""


@query(
    "text_winnowing_fingerprints",
    oracle=f"""
    WITH {_duck_winnow_prints()}
    SELECT doc_id,
           CAST(n_pos AS BIGINT) AS n_positions,
           CAST(n_pos - {_WIN_W} + 1 AS BIGINT) AS n_windows,
           CAST(COUNT(*) AS BIGINT) AS n_prints,
           CAST(FLOOR(1000.0 * COUNT(*) / (n_pos - {_WIN_W} + 1))
             AS BIGINT) AS density_permille,
           CAST(SUM(fp_h) % {_HASH_MOD} AS BIGINT) AS fp_checksum
    FROM prints GROUP BY doc_id, n_pos ORDER BY doc_id
    """,
    tags=("llm", "text", "dedup"),
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints per document (Schleimer et al. SIGMOD 2003,
    the MOSS algorithm): from every window of W=4 consecutive 3-gram
    hashes select the minimal hash, rightmost on ties — the local
    fingerprinting scheme that guarantees detection of every shared
    substring of >= W+k-1 tokens at ~2/(W+1) density. Emits per doc the
    k-gram position count, full-window count, selected-fingerprint count,
    the measured density (paper's expectation: ~400 permille for W=4),
    and an order-independent checksum of the selected hashes so the
    driver hash pins the fingerprint VALUES, not just their count.

    Plan, 100 TB-first: hashes are computed once per position BEFORE the
    ×W window explode (the bounded fan-out); selection is one
    (doc, window)-keyed aggregation — winnowing is local by construction,
    so nothing ever crosses documents, let alone partitions. The encode
    ``h·2^20 + (2^20-1-pos)`` makes the (min hash, max pos) argmin one
    integer MIN; the 2^20 slot bounds docs to 1M tokens (stated). The
    DuckDB oracle replays the identical encode."""
    docs = load_tables(spark, sf_dir, "documents").documents
    prints = _winnow_prints_df(docs.select("doc_id", "text"))
    return (
        prints.groupBy("doc_id", "n_pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_prints"),
            (F.sum("fp_h") % _HASH_MOD).cast("long").alias("fp_checksum"),
        )
        .select(
            "doc_id",
            F.col("n_pos").cast("long").alias("n_positions"),
            (F.col("n_pos") - _WIN_W + 1).cast("long").alias("n_windows"),
            "n_prints",
            F.floor(
                F.lit(1000.0) * F.col("n_prints") / (F.col("n_pos") - _WIN_W + 1)
            )
            .cast("long")
            .alias("density_permille"),
            "fp_checksum",
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_winnowing_pairs",
    oracle=f"""
    WITH {_duck_winnow_prints()},
    ph AS (SELECT DISTINCT doc_id, fp_h FROM prints),
    ok AS (
      SELECT fp_h FROM ph GROUP BY fp_h
      HAVING COUNT(*) BETWEEN 2 AND {_WIN_MAX_DF}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM ph a JOIN ph b USING (fp_h) JOIN ok USING (fp_h)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {_WIN_MIN_SHARED}
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup"),
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS match step over winnowed fingerprints: document pairs
    sharing >= 3 distinct fingerprint hashes, i.e. substring-grain
    near-dup candidates detected WITHOUT any all-pairs comparison — the
    fingerprint hash itself is the join key. Fingerprints appearing in
    more than 50 documents are dropped first (MOSS's too-many-documents
    rule): they are shared boilerplate, and at 100 TB they are exactly
    the quadratic-bucket skew a pair join must never see. Join volume is
    therefore bounded by Σ df² over df ≤ 50 — duplication mass, never
    corpus size. Complements MinHash-LSH (whole-doc similarity) and
    maximal_duplicate_spans (exact substrings): winnowing is the
    sketch-grain middle — positional, hash-local, and cheap."""
    from ..operators.dedup import shared_key_pairs

    docs = load_tables(spark, sf_dir, "documents").documents
    # r13: the (window df → fp_h self-join) tail measured 1.9 s on 100k
    # print rows — replaced by shared_key_pairs: ONE fp_h-keyed
    # collect_set aggregate (which also subsumes both the per-(doc,fp_h)
    # distinct and the df window — set size IS df) plus a task-local
    # C(df,2) pair expansion, df ≤ _WIN_MAX_DF bounded. Identical pair
    # multiset to the self-join by construction; the winnow chain is
    # evaluated exactly ONCE (the self-join evaluated it per side).
    ph = _winnow_prints_df(docs.select("doc_id", "text"), distinct=False)
    return (
        shared_key_pairs(
            ph.select("fp_h", "doc_id"), "fp_h", "doc_id",
            min_df=2, max_df=_WIN_MAX_DF,
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------------- tokenizer family
# Wave 3 — the tokenizer evaluation table: with all three trainers in the
# repo (BPE arXiv:1508.07909, WordPiece Schuster & Nakajima 2012, unigram
# Kudo arXiv:1804.10959), the table a pipeline publishes to CHOOSE one is
# the per-source compression/fertility comparison (chars per token per
# tokenizer — e.g. the fertility tables in the XLM-R and BLOOM tokenizer
# analyses). All three vocabularies come from the same gate corpus, so
# the comparison is apples-to-apples.


def _build_family_compare_oracle() -> str | None:
    from .llm_ops4 import bpe_train_py
    from .llm_ops6 import _wp_train_py

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
    from .llm_ops4 import bpe_train_spark
    from .llm_ops6 import _wp_train_spark

    gate = _gate(sf_dir)
    bpe_merges = bpe_train_spark(spark, gate)
    wp_merges = _wp_train_spark(spark, gate)
    costs = {p: int(co) for p, _c, co in unigram_train_spark(spark, gate)}

    docs = load_tables(spark, sf_dir, "documents").documents
    occ = _word_counts(docs, "doc_id", "n_occ")
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


# ------------------------------------------------------- sequence packing
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


# -------------------------------------------------- cross-source leakage
# Wave 5 — the cross-source near-dup overlap matrix: which pairs of
# sources contain near-duplicates of EACH OTHER. Public corpora overlap
# heavily (CommonCrawl snapshots, C4 vs CC, code mirrors), and mixture
# weights silently double-count whatever is shared — this matrix is the
# diagnostic a curation run publishes before choosing weights, and the
# multi-source generalization of dedup_rate_by_source.


def _build_overlap_oracle() -> str:
    from .llm_ops8 import _DUCK_CLUSTERS

    return f"""
    WITH RECURSIVE {_DUCK_CLUSTERS},
    cs AS (
      SELECT cluster_id, source, CAST(COUNT(*) AS BIGINT) AS n
      FROM asg GROUP BY cluster_id, source
    ),
    px AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.n AS na, b.n AS nb
      FROM cs a JOIN cs b
        ON a.cluster_id = b.cluster_id AND a.source < b.source
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_clusters,
           CAST(SUM(na) AS BIGINT) AS n_docs_a,
           CAST(SUM(nb) AS BIGINT) AS n_docs_b
    FROM px GROUP BY source_a, source_b ORDER BY source_a, source_b"""


@query(
    "curation_source_overlap_matrix",
    oracle=_build_overlap_oracle(),
    tags=("llm", "curation", "dedup"),
)
def curation_source_overlap_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """For every unordered source pair, the number of near-dup clusters
    spanning both sources and the per-side document mass inside those
    shared clusters — the cross-source leakage matrix that tells a
    mixture designer which source pairs double-count content. Reuses the
    SAME cluster relation as every other dedup verdict query
    (llm_ops8._cluster_keep_longest: MinHash-LSH pairs → hash-min CC), so
    the matrix can never disagree with the per-source dedup rates.

    Plan: the cluster relation's shuffles are the existing LSH/CC ones;
    this adds one (cluster, source) count aggregation and one
    cluster-keyed self-join whose volume is Σ (sources-per-cluster)² —
    bounded by duplication structure (clusters are near-dup families),
    never by corpus size."""
    from .llm_ops8 import _cluster_keep_longest

    v = _cluster_keep_longest(spark, sf_dir)
    cs = v.groupBy("cluster_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = cs.select(
        "cluster_id", F.col("source").alias("source_a"), F.col("n").alias("na")
    )
    b = cs.select(
        "cluster_id", F.col("source").alias("source_b"), F.col("n").alias("nb")
    )
    return (
        a.join(b, "cluster_id")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_clusters"),
            F.sum("na").cast("long").alias("n_docs_a"),
            F.sum("nb").cast("long").alias("n_docs_b"),
        )
        .orderBy("source_a", "source_b")
    )


# ------------------------------------------------------------ Rocchio PRF
# Wave 6 — pseudo-relevance feedback query expansion (Rocchio 1971, the
# SMART system; the classic PRF recipe: retrieve with the original query,
# assume the top-F results relevant, add the E highest-weighted terms
# from those docs at a discounted weight, retrieve again). Completes the
# sparse-retrieval family next to search_bm25_topk / search_rrf_fusion /
# hybrid_search_rerank.

_PRF_FB_DOCS = 5
_PRF_EXP_TERMS = 8
#: query-term weights ×10 (integer so the final score is an exact
#: BIGINT sum): original terms 1.0, expansion terms β=0.4.
_PRF_W_ORIG = 10
_PRF_W_EXP = 4
_BM25_K1, _BM25_B = 1.2, 0.75


def _build_rocchio_oracle() -> str:
    from .llm_ops3 import DUCK_BM25_STATS

    k1, b = _BM25_K1, _BM25_B
    # identical operand order + the CAST-to-DOUBLE constant discipline of
    # the search_bm25_topk oracle (llm_ops3.py)
    bm25 = (
        f"CAST(ROUND("
        f"ln(1 + (stats.n_docs - df + 0.5) / (df + 0.5))"
        f" * (tf * CAST({k1 + 1!r} AS DOUBLE))"
        f" / (tf + CAST({k1!r} AS DOUBLE)"
        f"    * (1 - CAST({b!r} AS DOUBLE)"
        f"       + CAST({b!r} AS DOUBLE) * dl.dl / stats.avgdl))"
        f" * 1000000) AS BIGINT)"
    )
    return f"""
    WITH {DUCK_BM25_STATS}, posting AS (
      SELECT doc_id, unnest(toks) AS term FROM corpus
    ), tfq AS (
      SELECT p.doc_id, p.term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM posting p JOIN qt USING (term) GROUP BY p.doc_id, p.term
    ), dfq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfq GROUP BY term
    ), base AS (
      SELECT tfq.doc_id, CAST(SUM({bm25.replace('df', 'dfq.df').replace('tf', 'tfq.tf')}) AS BIGINT)
               AS bm25_micro
      FROM tfq JOIN dfq USING (term) JOIN dl ON dl.doc_id = tfq.doc_id, stats
      GROUP BY tfq.doc_id
    ), fb AS (
      SELECT doc_id FROM base ORDER BY bm25_micro DESC, doc_id
      LIMIT {_PRF_FB_DOCS}
    ), cand AS (
      SELECT p.term, CAST(COUNT(*) AS BIGINT) AS tf_fb
      FROM posting p JOIN fb USING (doc_id)
      WHERE p.term NOT IN (SELECT term FROM qt)
      GROUP BY p.term
    ), dfc AS (
      SELECT p.term, CAST(COUNT(DISTINCT p.doc_id) AS BIGINT) AS df
      FROM posting p JOIN cand USING (term) GROUP BY p.term
    ), exp8 AS (
      SELECT cand.term FROM cand JOIN dfc USING (term), stats
      ORDER BY CAST(ROUND(
          ln(1 + (stats.n_docs - dfc.df + 0.5) / (dfc.df + 0.5))
          * cand.tf_fb * 1000000) AS BIGINT) DESC, cand.term
      LIMIT {_PRF_EXP_TERMS}
    ), terms AS (
      SELECT term, CAST({_PRF_W_ORIG} AS BIGINT) AS w FROM qt
      UNION ALL
      SELECT term, CAST({_PRF_W_EXP} AS BIGINT) AS w FROM exp8
    ), tfe AS (
      SELECT p.doc_id, p.term, t.w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM posting p JOIN terms t USING (term)
      GROUP BY p.doc_id, p.term, t.w
    ), dfe AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfe GROUP BY term
    )
    SELECT tfe.doc_id,
           CAST(SUM({bm25.replace('df', 'dfe.df').replace('tf', 'tfe.tf')} * tfe.w) AS BIGINT)
             AS rocchio_dmicro
    FROM tfe JOIN dfe USING (term) JOIN dl ON dl.doc_id = tfe.doc_id, stats
    GROUP BY tfe.doc_id
    ORDER BY rocchio_dmicro DESC, tfe.doc_id LIMIT 15"""


@query(
    "search_rocchio_expand",
    oracle=_build_rocchio_oracle(),
    tags=("llm", "text", "search"),
)
def search_rocchio_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback (Rocchio 1971): BM25-rank the
    corpus against doc 0's terms, take the top-5 as pseudo-relevant, add
    the 8 highest idf·tf-weighted new terms from them at β=0.4, and
    re-rank — top-15 by the expanded score (an exact BIGINT: per-term
    micro contributions × integer weight 10/4, so no float summation
    order anywhere). The expansion terms are not output columns but every
    one of them shifts the final scores, so the driver hash pins the
    whole selection chain (feedback ranking, candidate weighting,
    tie-breaks) end-to-end.

    Plan, 100 TB-first: the query side stays bounded and broadcast at
    every stage — original terms, then top-5 feedback doc ids, then the
    ≤8-term expansion (each selected via orderBy+limit over an already
    term-keyed aggregate). The corpus is touched by term-filtered
    explodes only (broadcast semi-join BEFORE each tf groupBy, the
    search_bm25_topk posture), so posting-list volume is always
    hits-only; df comes from a window over the tf relation, never a
    joined-back second aggregation."""
    from ..operators.text import tokens as _tokens
    from pyspark.sql import Window

    k1, b = _BM25_K1, _BM25_B
    t = load_tables(spark, sf_dir, "documents")
    docs = t.documents.filter(F.col("doc_id") != 0)
    toks_col = _tokens("text")

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

    def bm25_micro():
        return F.round(
            F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            * 1_000_000
        ).cast("long")

    def tf_for(terms_df, extra=()):
        return (
            docs.select("doc_id", F.explode(toks_col).alias("term"))
            .join(F.broadcast(terms_df), "term")
            .groupBy("doc_id", "term", *extra)
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )

    wdf = Window.partitionBy("term")
    base = (
        tf_for(q_terms)
        .withColumn("df", F.count(F.lit(1)).over(wdf).cast("long"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", bm25_micro().alias("micro"))
        .groupBy("doc_id")
        .agg(F.sum("micro").cast("long").alias("bm25_micro"))
    )
    fb = base.orderBy(F.col("bm25_micro").desc(), "doc_id").limit(
        _PRF_FB_DOCS
    ).select("doc_id")

    fb_terms = (
        docs.join(F.broadcast(fb), "doc_id")
        .select(F.explode(toks_col).alias("term"))
        .join(F.broadcast(q_terms), "term", "left_anti")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf_fb"))
    )
    dfc = (
        docs.select("doc_id", F.explode(toks_col).alias("term"))
        .join(F.broadcast(fb_terms.select("term")), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").cast("long").alias("df"))
    )
    exp8 = (
        fb_terms.join(dfc, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.round(
                F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * F.col("tf_fb")
                * 1_000_000
            ).cast("long").alias("wmicro"),
        )
        .orderBy(F.col("wmicro").desc(), "term")
        .limit(_PRF_EXP_TERMS)
        .select("term")
    )
    terms = q_terms.select(
        "term", F.lit(_PRF_W_ORIG).cast("long").alias("w")
    ).unionAll(exp8.select("term", F.lit(_PRF_W_EXP).cast("long").alias("w")))

    return (
        tf_for(terms, extra=("w",))
        .withColumn("df", F.count(F.lit(1)).over(wdf).cast("long"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (bm25_micro() * F.col("w")).alias("dm"))
        .groupBy("doc_id")
        .agg(F.sum("dm").cast("long").alias("rocchio_dmicro"))
        .orderBy(F.col("rocchio_dmicro").desc(), "doc_id")
        .limit(15)
    )


# --------------------------------------------------------- Kneser-Ney LM
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


# ------------------------------------------------- winnowing recall eval
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
    WITH {DUCK_SHINGLE_SETS},{_duck_winnow_prints()},
    ph AS (SELECT DISTINCT doc_id, fp_h FROM prints),
    ok AS (
      SELECT fp_h FROM ph GROUP BY fp_h
      HAVING COUNT(*) BETWEEN 2 AND {_WIN_MAX_DF}
    ),
    wpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ph a JOIN ph b USING (fp_h) JOIN ok USING (fp_h)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= {_WIN_MIN_SHARED}
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


# ---------------------------------------------------- selection tradeoff
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


# ------------------------------------------------------------------ RAKE
# Wave 10 — RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010,
# "Automatic Keyword Extraction from Individual Documents"): candidate
# phrases are maximal runs of non-stopword tokens; each word scores
# degree/frequency over the candidate set; a phrase scores the sum of
# its word scores. The corpus-level variant here is the keyword table a
# search/curation pipeline builds per source or snapshot. Stopwords are
# the corpus's own top-_RAKE_STOPS tokens (deterministic stand-in for
# RAKE's fixed English list, stated); all scores are exact integers
# (1e6·deg // freq — no floats anywhere).

_RAKE_STOPS = 5
_RAKE_TOPK = 20


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
    ),
    tok AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS w
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
            FROM toks)
    ),
    stop AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        ORDER BY c DESC, w LIMIT {_RAKE_STOPS}
      )
    ),
    nonstop AS (
      SELECT doc_id, pos, w,
             pos - ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY pos) AS island
      FROM tok WHERE w NOT IN (SELECT w FROM stop)
    ),
    cand AS (
      SELECT doc_id, island,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS plen
      FROM nonstop GROUP BY doc_id, island
    ),
    wstat AS (
      SELECT n.w, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(c.plen) AS BIGINT) AS deg
      FROM nonstop n JOIN cand c USING (doc_id, island)
      GROUP BY n.w
    ),
    pscore AS (
      SELECT n.doc_id, n.island,
             CAST(SUM(1000000 * s.deg // s.freq) AS BIGINT) AS score_micro
      FROM nonstop n JOIN wstat s ON s.w = n.w
      GROUP BY n.doc_id, n.island
    )
    SELECT c.phrase, CAST(c.plen AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MAX(p.score_micro) AS BIGINT) AS score_micro
    FROM cand c JOIN pscore p USING (doc_id, island)
    GROUP BY c.phrase, c.plen
    ORDER BY score_micro DESC, phrase LIMIT {_RAKE_TOPK}
    """,
    tags=("llm", "text", "search"),
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction over the corpus (Rose et al. 2010): top-20
    candidate phrases by degree/frequency score. Candidates are maximal
    non-stopword runs (the pos − row_number gaps-and-islands identity);
    word degree sums the lengths of every candidate occurrence containing
    the word; scores are exact integers (1e6·deg // freq summed over the
    phrase's words), so identical phrases score identically by
    construction and the MAX in the final rollup is a no-op formality.

    Plan, 100 TB-first: one tokenize explode; the stopword table is a
    bounded top-K broadcast; islands are one doc-keyed window; word stats
    and phrase scores are keyed aggregations over the candidate relation
    (bounded by non-stopword token mass). The only total order is the
    final top-20 TakeOrdered."""
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, "documents").documents
    tok = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+")
        ).alias("pos", "w"),
    )
    stop = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(_RAKE_STOPS)
        .select("w")
    )
    nonstop = (
        tok.join(F.broadcast(stop), "w", "left_anti")
        .withColumn(
            "island",
            F.col("pos")
            - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("pos")
            ),
        )
    )
    cand = nonstop.groupBy("doc_id", "island").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("plen"),
    )
    wstat = (
        nonstop.join(cand.select("doc_id", "island", "plen"), ["doc_id", "island"])
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
    )
    pscore = (
        nonstop.join(wstat, "w")
        .select(
            "doc_id",
            "island",
            F.floor(F.lit(1_000_000) * F.col("deg") / F.col("freq"))
            .cast("long")
            .alias("wsc"),
        )
        .groupBy("doc_id", "island")
        .agg(F.sum("wsc").cast("long").alias("score_micro"))
    )
    return (
        cand.join(pscore, ["doc_id", "island"])
        .groupBy("phrase", "plen")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.max("score_micro").cast("long").alias("score_micro"),
        )
        .select(
            "phrase",
            F.col("plen").alias("n_words"),
            "n_occurrences",
            "score_micro",
        )
        .orderBy(F.col("score_micro").desc(), "phrase")
        .limit(_RAKE_TOPK)
    )


# ------------------------------------------------- binary embedding quant
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
    from .llm_ops import _duck_cosine

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
               CAST(ROUND({_duck_cosine('c.embedding', 'q.qv')} * 1000000)
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


# ------------------------------------------------------ privacy + CUSUM
# Wave 12 — two staples rounding out the privacy and time-series
# families: the k-anonymity audit (Sweeney 2002 — the table a privacy
# review reads BEFORE l-diversity, which the repo already has) and CUSUM
# changepoint detection (Page 1954, Biometrika — the classic
# level-shift detector, here in exact integer form).

_KANON_KS = (2, 5, 10)


@query(
    "privacy_k_anonymity_audit",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_groups
      FROM g
    )
    SELECT CAST(k AS BIGINT) AS k, tot.n_groups,
           CAST(SUM(CASE WHEN g.n < k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(SUM(CASE WHEN g.n < k THEN g.n ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(FLOOR(1000.0 * SUM(CASE WHEN g.n < k THEN g.n ELSE 0 END)
                      / tot.n_rows) AS BIGINT) AS suppression_permille
    FROM g CROSS JOIN (VALUES {", ".join(f"({k})" for k in _KANON_KS)})
      AS ks(k)
    CROSS JOIN tot
    GROUP BY k, tot.n_groups, tot.n_rows ORDER BY k
    """,
    tags=("privacy",),
)
def privacy_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the (nation, market segment)
    quasi-identifier pair: for each candidate k, how many
    quasi-identifier groups have fewer than k members, how many rows sit
    in them, and the suppression rate a k-anonymizer would pay — the
    table a privacy review reads before choosing k (the l-diversity
    query, privacy_l_diversity, is the follow-up on the sensitive
    attribute). One groupBy over the quasi-identifiers, then a bounded
    ×3 explode of the GROUP relation (never the rows) against the
    candidate ks."""
    t = load_tables(spark, sf_dir, "customer")
    g = t.customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ks = spark.createDataFrame([(k,) for k in _KANON_KS], "k long")
    tot = g.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
    )
    return (
        g.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "n_groups", "n_rows")
        .agg(
            F.sum(F.when(F.col("n") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_violating_groups"),
            F.sum(F.when(F.col("n") < F.col("k"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_rows_at_risk"),
        )
        .select(
            "k",
            "n_groups",
            "n_violating_groups",
            "n_rows_at_risk",
            F.floor(F.lit(1000.0) * F.col("n_rows_at_risk") / F.col("n_rows"))
            .cast("long")
            .alias("suppression_permille"),
        )
        .orderBy("k")
    )


@query(
    "events_changepoint_cusum",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    tot AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type
    ),
    cusum AS (
      SELECT d.event_type, d.day,
             CAST(SUM(d.n * t.n_days - t.total) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS s
      FROM daily d JOIN tot t USING (event_type)
    ),
    mx AS (
      SELECT event_type, day, s, abs(s) AS a,
             MAX(abs(s)) OVER (PARTITION BY event_type) AS amax
      FROM cusum
    )
    SELECT event_type,
           strftime(MIN(CASE WHEN a = amax THEN day END), '%Y-%m-%d')
             AS changepoint_day,
           CAST(MAX(amax) AS BIGINT) AS max_abs_cusum,
           CAST(arg_min(CASE WHEN a = amax THEN CASE WHEN s > 0 THEN 1
                  WHEN s < 0 THEN -1 ELSE 0 END END,
                CASE WHEN a = amax THEN day END) AS BIGINT) AS direction
    FROM mx GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "profile"),
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type (Page 1954): daily
    counts, cumulative sum of deviations from the series mean, and the
    day where |CUSUM| peaks — the classic level-shift locator. Exact
    integer arithmetic throughout: deviations are scaled by the day
    count (n·D − total, an integer) instead of subtracting a float mean,
    so the running sum, its argmax, and the direction sign are
    hash-stable in every engine. Earliest peak day wins ties, and the
    reported direction is the sign AT that same earliest-peak row
    (min_by/arg_min over peak rows — r8 ADVICE: MAX(sign) over all peak
    days could describe a different day than the reported one).

    Plan: one (type, day) aggregation, a per-type totals join, one
    type-keyed ordered window over the DAYS dimension (bounded by the
    calendar, not event volume), and a 5-row rollup."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "events")
    daily = t.events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = daily.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "day",
            F.sum(F.col("n") * F.col("n_days") - F.col("total"))
            .over(w)
            .cast("long")
            .alias("s"),
        )
    )
    wa = Window.partitionBy("event_type")
    mx = cusum.select(
        "event_type",
        "day",
        "s",
        F.abs("s").alias("a"),
        F.max(F.abs("s")).over(wa).alias("amax"),
    )
    at_peak = F.when(F.col("a") == F.col("amax"), F.col("day"))
    sgn = F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    return (
        mx.groupBy("event_type")
        .agg(
            F.date_format(F.min(at_peak), "yyyy-MM-dd").alias(
                "changepoint_day"
            ),
            F.max("amax").cast("long").alias("max_abs_cusum"),
            F.min_by(
                F.when(F.col("a") == F.col("amax"), sgn), at_peak
            ).cast("long").alias("direction"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------- NB quality distill
# Wave 13 — model-based quality filtering, the family GPT-3's WebText
# classifier / CCNet's fastText filters belong to, in the one
# formulation that is EXACTLY replayable across engines: multinomial
# Naive Bayes with Laplace smoothing (all statistics are counts; every
# log-prob is micro-rounded per WORD TYPE and summed as BIGINT×count).
# The training signal is weak supervision: the repo's own Gopher rule
# labels the even-doc_id half; the model then scores the held-out odd
# half and we measure how faithfully the distilled classifier reproduces
# the rule it never saw — the distillation-fidelity table a pipeline
# publishes before swapping a cheap model in for an expensive gate.


def _duck_gopher_pass() -> str:
    """The Gopher pass predicate as a SQL fragment over ``documents`` —
    operand-for-operand the quality_gopher_flags oracle (llm_ops2.py)."""
    from ..operators import quality as Q
    from ..operators import text as T

    TOKS = T.duck_tokens("text")
    return f"""
    labels AS (
      SELECT doc_id,
             (n_words BETWEEN {Q.MIN_WORDS} AND {Q.MAX_WORDS})
               AND (mean_word_len BETWEEN {Q.MIN_MEAN_WORD_LEN}
                    AND {Q.MAX_MEAN_WORD_LEN})
               AND n_distinct_stopwords >= {Q.MIN_DISTINCT_STOPWORDS}
               AND symbol_ratio <= {Q.MAX_SYMBOL_RATIO} AS passes
      FROM (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(toks, w -> CAST(length(w) AS BIGINT))),
                    (a,b) -> a+b) AS DOUBLE) / len(toks) AS mean_word_len,
               CAST(len(list_intersect(list_distinct(toks),
                    {list(T.STOPWORDS)!r})) AS BIGINT)
                 AS n_distinct_stopwords,
               CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                    AS DOUBLE) / length(text) AS symbol_ratio
        FROM (SELECT doc_id, text, {TOKS} AS toks FROM documents)
      )
    )"""


def _nb_chain_sql() -> str:
    """The shared NB-distillation oracle chain (labels -> words ->
    counts -> totals -> per-doc scores): single-sourced so the fidelity
    table and the calibration curve (llm_ops12) can never disagree
    about what the classifier scored."""
    return f"""{_duck_gopher_pass()},
    words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
        FROM documents
      ) WHERE len(w) > 0
    ),
    trainw AS (
      SELECT words.w, labels.passes FROM words
      JOIN labels USING (doc_id) WHERE doc_id % 2 = 0
    ),
    cw AS (
      SELECT w,
             CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS cp,
             CAST(SUM(CASE WHEN passes THEN 0 ELSE 1 END) AS BIGINT) AS cf
      FROM trainw GROUP BY w
    ),
    tots AS (
      SELECT (SELECT CAST(SUM(cp) AS BIGINT) FROM cw) AS tp_tok,
             (SELECT CAST(SUM(cf) AS BIGINT) FROM cw) AS tf_tok,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cw) AS v,
             (SELECT CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT)
              FROM labels WHERE doc_id % 2 = 0) AS np_docs,
             (SELECT CAST(SUM(CASE WHEN passes THEN 0 ELSE 1 END) AS BIGINT)
              FROM labels WHERE doc_id % 2 = 0) AS nf_docs
    ),
    evalw AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS k
      FROM words WHERE doc_id % 2 = 1 GROUP BY doc_id, w
    ),
    contrib AS (
      SELECT e.doc_id,
             CAST(SUM(e.k * CAST(ROUND(ln(
               CAST(COALESCE(cw.cp, 0) + 1 AS DOUBLE)
               / CAST(tots.tp_tok + tots.v AS DOUBLE)) * 1000000)
               AS BIGINT)) AS BIGINT) AS sp,
             CAST(SUM(e.k * CAST(ROUND(ln(
               CAST(COALESCE(cw.cf, 0) + 1 AS DOUBLE)
               / CAST(tots.tf_tok + tots.v AS DOUBLE)) * 1000000)
               AS BIGINT)) AS BIGINT) AS sf
      FROM evalw e LEFT JOIN cw USING (w) CROSS JOIN tots
      GROUP BY e.doc_id
    ),
    scored AS (
      SELECT l.doc_id, l.passes AS truth,
             CAST(ROUND(ln(CAST(tots.np_docs AS DOUBLE)
                  / CAST(tots.np_docs + tots.nf_docs AS DOUBLE)) * 1000000)
               AS BIGINT) + COALESCE(c.sp, 0) AS score_pass,
             CAST(ROUND(ln(CAST(tots.nf_docs AS DOUBLE)
                  / CAST(tots.np_docs + tots.nf_docs AS DOUBLE)) * 1000000)
               AS BIGINT) + COALESCE(c.sf, 0) AS score_fail
      FROM labels l LEFT JOIN contrib c USING (doc_id) CROSS JOIN tots
      WHERE l.doc_id % 2 = 1
    )"""


def _nb_cells_sql() -> str:
    """_nb_chain_sql plus ``cells(a, b, c, d)``: the 2×2 table of the
    Gopher rule (truth) against the NB gate (pass = score_pass >=
    score_fail) over the held-out docs — a both pass, b rule only, c NB
    only, d both fail."""
    return f"""{_nb_chain_sql()},
    cells AS (
      SELECT CAST(SUM(CASE WHEN truth AND score_pass >= score_fail
                      THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN truth AND score_pass < score_fail
                      THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN NOT truth AND score_pass >= score_fail
                      THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN NOT truth AND score_pass < score_fail
                      THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM scored
    )"""


def _nb_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out docs with NB scores: (doc_id, truth, score_pass,
    score_fail) — the Spark half of _nb_chain_sql, shared by the
    fidelity table and the calibration curve (llm_ops12)."""
    from ..operators import quality as Q

    docs = load_tables(spark, sf_dir, "documents").documents
    labels = Q.gopher_quality_flags(docs).select("doc_id", "passes")
    words = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        ).alias("w"),
    )
    trainw = words.filter(F.col("doc_id") % 2 == 0).join(labels, "doc_id")
    cw = trainw.groupBy("w").agg(
        F.sum(F.when(F.col("passes"), 1).otherwise(0)).cast("long").alias("cp"),
        F.sum(F.when(F.col("passes"), 0).otherwise(1)).cast("long").alias("cf"),
    )
    tots = (
        cw.agg(
            F.sum("cp").cast("long").alias("tp_tok"),
            F.sum("cf").cast("long").alias("tf_tok"),
            F.count(F.lit(1)).cast("long").alias("v"),
        )
        .crossJoin(
            labels.filter(F.col("doc_id") % 2 == 0).agg(
                F.sum(F.when(F.col("passes"), 1).otherwise(0))
                .cast("long")
                .alias("np_docs"),
                F.sum(F.when(F.col("passes"), 0).otherwise(1))
                .cast("long")
                .alias("nf_docs"),
            )
        )
    )

    def lp(cnt, tot_tok):
        return F.round(
            F.log(
                (F.coalesce(cnt, F.lit(0)) + 1).cast("double")
                / (tot_tok + F.col("v")).cast("double")
            )
            * 1_000_000
        ).cast("long")

    evalw = (
        words.filter(F.col("doc_id") % 2 == 1)
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    contrib = (
        evalw.join(cw, "w", "left")
        .crossJoin(F.broadcast(tots))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("k") * lp(F.col("cp"), F.col("tp_tok")))
            .cast("long")
            .alias("sp"),
            F.sum(F.col("k") * lp(F.col("cf"), F.col("tf_tok")))
            .cast("long")
            .alias("sf"),
        )
    )
    prior_p = F.round(
        F.log(F.col("np_docs").cast("double") / (F.col("np_docs") + F.col("nf_docs")).cast("double"))
        * 1_000_000
    ).cast("long")
    prior_f = F.round(
        F.log(F.col("nf_docs").cast("double") / (F.col("np_docs") + F.col("nf_docs")).cast("double"))
        * 1_000_000
    ).cast("long")
    scored = (
        labels.filter(F.col("doc_id") % 2 == 1)
        .join(contrib, "doc_id", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "doc_id",
            F.col("passes").alias("truth"),
            (prior_p + F.coalesce(F.col("sp"), F.lit(0))).alias("score_pass"),
            (prior_f + F.coalesce(F.col("sf"), F.lit(0))).alias("score_fail"),
        )
    )
    return scored


def _nb_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark half of _nb_cells_sql: one row (a, b, c, d)."""
    scored = _nb_scored(spark, sf_dir)
    nb_pass = F.col("score_pass") >= F.col("score_fail")
    return scored.agg(
        F.sum(F.when(F.col("truth") & nb_pass, 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("truth") & ~nb_pass, 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(~F.col("truth") & nb_pass, 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(~F.col("truth") & ~nb_pass, 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )


#: The NB gate's confusion counts (pass = score_pass >= score_fail,
#: positive = the rule's truth) over ``scored``; _nb_confusion_aggs is
#: the Spark side.
_NB_CONFUSION_SQL = """CAST(SUM(CASE WHEN score_pass >= score_fail AND truth
                    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN score_pass >= score_fail AND NOT truth
                    THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN score_pass < score_fail AND truth
                    THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN score_pass < score_fail AND NOT truth
                    THEN 1 ELSE 0 END) AS BIGINT) AS tn"""


def _nb_confusion_aggs() -> list:
    pred = F.col("score_pass") >= F.col("score_fail")
    return [
        F.sum(F.when(pred & F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(pred & ~F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(~pred & F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(~pred & ~F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    ]


@query(
    "quality_nb_distill_fidelity",
    oracle=f"""
    WITH {_nb_chain_sql()}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
           {_NB_CONFUSION_SQL},
           CAST(FLOOR(1000.0 * SUM(CASE WHEN (score_pass >= score_fail)
                    = truth THEN 1 ELSE 0 END) / COUNT(*)) AS BIGINT)
             AS accuracy_permille
    FROM scored
    """,
    tags=("llm", "quality", "eval"),
)
def quality_nb_distill_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill the Gopher rule gate into a multinomial Naive Bayes
    classifier and measure fidelity on held-out docs: train on the
    even-doc_id half labeled by the rule (weak supervision), score the
    odd half, report the confusion matrix and accuracy permille — the
    model-based-filtering acceptance table (the WebText/fastText
    classifier pattern) in exactly-replayable integer form. Every
    statistic is a count; every log-prob (Laplace-smoothed, shared
    vocabulary V) is micro-rounded per word TYPE then summed as
    count-weighted BIGINTs, so scores, the ≥-tie rule, and the confusion
    cells are hash-stable across engines. Ties predict pass (stated).

    Plan, 100 TB-first: training is ONE (word, class-count) aggregation
    over the labeled half; the model is the vocab-bounded cw relation
    joined LEFT from the eval side's (doc, word, k) counts (OOV words
    fall out of the same formula via COALESCE 0); priors/totals ride a
    broadcast one-row relation; the result is a single row."""
    scored = _nb_scored(spark, sf_dir)
    pred = F.col("score_pass") >= F.col("score_fail")
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        *_nb_confusion_aggs(),
        F.floor(
            F.lit(1000.0)
            * F.sum(F.when(pred == F.col("truth"), 1).otherwise(0))
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("accuracy_permille"),
    )


# ------------------------------------------------------- CMS error eval
# Wave 14 — the measured-error discipline applied to the Count-Min
# sketch (Cormode & Muthukrishnan 2005): for the corpus's heavy hitters,
# exact count vs sketch estimate vs the one-sided overestimate. The CMS
# guarantee (estimate ≥ exact always; overestimate ≤ εN w.h.p.) is the
# kind of claim that silently erodes when someone changes the hash
# family or width — this row set turns that into a value-hashed fact.


def _build_cms_eval_oracle() -> str:
    from ..operators.sketch import CMS_AB
    from ..operators.text import MOD, duck_char_fold

    width = 1024
    ab_vals = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(CMS_AB))
    return f"""
    WITH wc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS w
            FROM documents) WHERE len(w) > 0 GROUP BY w
    ),
    hh AS (SELECT w, c, {duck_char_fold('w')} AS h FROM wc),
    ab(j, a, b) AS (VALUES {ab_vals}),
    grid AS (
      SELECT ab.j, ((ab.a * hh.h + ab.b) % {MOD}) % {width} AS k,
             CAST(SUM(hh.c) AS BIGINT) AS cnt
      FROM hh CROSS JOIN ab GROUP BY ab.j, k
    ),
    top AS (SELECT w, c, h FROM hh ORDER BY c DESC, w LIMIT 10),
    est AS (
      SELECT t.w, t.c, CAST(MIN(g.cnt) AS BIGINT) AS e
      FROM top t CROSS JOIN ab
      JOIN grid g ON g.j = ab.j
        AND g.k = ((ab.a * t.h + ab.b) % {MOD}) % {width}
      GROUP BY t.w, t.c
    )
    SELECT w AS word, c AS exact_count, e AS cms_estimate,
           CAST(e - c AS BIGINT) AS overestimate
    FROM est ORDER BY exact_count DESC, word"""


@query(
    "sketch_cms_error_eval",
    oracle=_build_cms_eval_oracle(),
    tags=("llm", "sketch", "eval"),
)
def sketch_cms_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch error eval (Cormode & Muthukrishnan 2005) on the
    corpus's top-10 words: exact count, CMS estimate (depth 4 × width
    1024, the operators/sketch.py defaults), and the one-sided
    overestimate — which the CMS construction guarantees is ≥ 0 and
    bounds by εN w.h.p. A red row here means the hash family, width, or
    merge arithmetic drifted. The sketch is built DISTRIBUTED
    (map-side-combined (row, bucket) aggregate, d·w-bounded collect) and
    probed via the packed-row literal expression — the exact production
    path; the oracle rebuilds the identical grid in SQL from the same
    (a·h+b) % MOD % w family."""
    from ..operators.sketch import cms_build, cms_estimate_expr

    docs = load_tables(spark, sf_dir, "documents").documents
    words = docs.select(
        F.explode(
            F.filter(
                F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        ).alias("w")
    )
    model = cms_build(words, "w", width=1024)
    top = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "w")
        .limit(10)
    )
    return (
        top.select(
            F.col("w").alias("word"),
            "exact_count",
            cms_estimate_expr(model, F.col("w")).alias("cms_estimate"),
        )
        .select(
            "word",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("long")
            .alias("overestimate"),
        )
        .orderBy(F.col("exact_count").desc(), "word")
    )


# -------------------------------------- temperature sampling + SRM check
# Wave 15 — two tables operational pipelines publish constantly: the
# multilingual temperature-sampling plan (mT5 arXiv:2010.11934 §3.1 /
# XLM-R arXiv:1911.02116: p_i ∝ share_i^α) and the A/B sample-ratio-
# mismatch check (the chi-square guard every experimentation platform
# runs BEFORE reading a z-statistic — a biased split invalidates
# events_ab_conversion's readout).

_TEMP_ALPHAS = (300, 700)  # α in permille: 0.3 (aggressive) and 0.7


@query(
    "curation_temperature_sampling_plan",
    oracle=f"""
    WITH per_src AS (
      SELECT source, CAST(SUM(len(list_filter(
               string_split_regex(text, '\\s+'), w -> len(w) > 0)))
             AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS n_total FROM per_src),
    raw AS (
      SELECT a.alpha, p.source, p.n_tokens, tot.n_total,
             CAST(ROUND(exp((a.alpha / 1000.0)
                  * ln(CAST(p.n_tokens AS DOUBLE) / tot.n_total))
                  * 1000000000) AS BIGINT) AS raw_w
      FROM per_src p
      CROSS JOIN (VALUES {", ".join(f"({a})" for a in _TEMP_ALPHAS)})
        AS a(alpha)
      CROSS JOIN tot
    ),
    den AS (
      SELECT alpha, CAST(SUM(raw_w) AS BIGINT) AS sum_raw
      FROM raw GROUP BY alpha
    )
    SELECT CAST(r.alpha AS BIGINT) AS alpha_permille, r.source, r.n_tokens,
           CAST(FLOOR(1000.0 * r.n_tokens / r.n_total) AS BIGINT)
             AS share_permille,
           CAST(FLOOR(1000.0 * r.raw_w / d.sum_raw) AS BIGINT)
             AS weight_permille,
           CAST(FLOOR(1000000.0 * r.raw_w * r.n_total / d.sum_raw
                      / r.n_tokens) AS BIGINT) AS upsample_micro
    FROM raw r JOIN den d USING (alpha)
    ORDER BY alpha_permille, source
    """,
    tags=("llm", "curation"),
)
def curation_temperature_sampling_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-based source sampling plan (the mT5/XLM-R scheme:
    sampling probability ∝ natural share^α): per source and per α ∈
    {0.3, 0.7}, the natural token share, the renormalized sampling
    weight, and the effective upsample factor weight/share — the table
    that shows exactly how hard each tail source gets boosted before
    anyone commits to a mixture. Determinism: the ONLY float per row is
    share^α = exp(α·ln share), micro-rounded to an integer raw weight
    per source; the denominator is then an INTEGER sum (order-free) and
    every output column is integer arithmetic on top — the same
    one-float-then-fixed-point recipe as the LM scorers. Bounded
    relations end-to-end: one source rollup, a ×2 α explode of the
    20-row source dimension."""
    docs = load_tables(spark, sf_dir, "documents").documents
    per_src = docs.groupBy("source").agg(
        F.sum(
            F.size(
                F.filter(
                    F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                    lambda x: F.length(x) > 0,
                )
            )
        )
        .cast("long")
        .alias("n_tokens")
    )
    tot = per_src.agg(F.sum("n_tokens").cast("long").alias("n_total"))
    alphas = spark.createDataFrame(
        [(a,) for a in _TEMP_ALPHAS], "alpha long"
    )
    raw = (
        per_src.crossJoin(F.broadcast(alphas))
        .crossJoin(F.broadcast(tot))
        .select(
            "alpha",
            "source",
            "n_tokens",
            "n_total",
            F.round(
                F.exp(
                    (F.col("alpha") / 1000.0)
                    * F.log(
                        F.col("n_tokens").cast("double") / F.col("n_total")
                    )
                )
                * 1_000_000_000
            )
            .cast("long")
            .alias("raw_w"),
        )
    )
    den = raw.groupBy("alpha").agg(
        F.sum("raw_w").cast("long").alias("sum_raw")
    )
    return (
        raw.join(F.broadcast(den), "alpha")
        .select(
            F.col("alpha").alias("alpha_permille"),
            "source",
            "n_tokens",
            F.floor(F.lit(1000.0) * F.col("n_tokens") / F.col("n_total"))
            .cast("long")
            .alias("share_permille"),
            F.floor(F.lit(1000.0) * F.col("raw_w") / F.col("sum_raw"))
            .cast("long")
            .alias("weight_permille"),
            F.floor(
                F.lit(1_000_000.0)
                * F.col("raw_w")
                * F.col("n_total")
                / F.col("sum_raw")
                / F.col("n_tokens")
            )
            .cast("long")
            .alias("upsample_micro"),
        )
        .orderBy("alpha_permille", "source")
    )


@query(
    "events_ab_srm_check",
    oracle=f"""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(md5(CAST(user_id AS VARCHAR)), ''), c -> CAST(ascii(c) AS BIGINT))), (a, b) -> (a * 31 + b) % 1000000007) % 2 AS arm FROM u)
    )
    SELECT n_a, n_b, CAST(n_a - n_b AS BIGINT) AS delta,
           CAST(FLOOR(1000000.0 * (n_a - n_b) * (n_a - n_b) / (n_a + n_b))
             AS BIGINT) AS chi2_micro,
           FLOOR(1000000.0 * (n_a - n_b) * (n_a - n_b) / (n_a + n_b))
             > 3841459 AS srm_flag
    FROM arms
    """,
    tags=("streaming", "events", "stats"),
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for the A/B split (the chi-square
    guard run BEFORE reading events_ab_conversion's z — a biased
    assignment invalidates any downstream readout): users assigned by
    the SAME portable bucket hash as the conversion query, per-arm user
    counts, and the 1-df chi-square statistic against the designed 50/50
    split (for two cells it reduces exactly to (n_a−n_b)²/(n_a+n_b)),
    flagged at the 0.05 critical value 3.841459. Counts are integers;
    the statistic is one fixed-order double expression micro-floored.
    One distinct-users aggregate; a single output row."""
    from ..operators.curation import split_bucket

    ev = load_tables(spark, sf_dir, "events").events
    arms = (
        ev.select("user_id")
        .distinct()
        .withColumn("arm", split_bucket("user_id", 2))
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
        )
    )
    chi2 = F.floor(
        F.lit(1_000_000.0)
        * (F.col("n_a") - F.col("n_b"))
        * (F.col("n_a") - F.col("n_b"))
        / (F.col("n_a") + F.col("n_b"))
    )
    return arms.select(
        "n_a",
        "n_b",
        (F.col("n_a") - F.col("n_b")).cast("long").alias("delta"),
        chi2.cast("long").alias("chi2_micro"),
        (chi2 > 3_841_459).alias("srm_flag"),
    )


# --------------------------------------------------------- source JSD
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
    cs = _word_counts(docs, "source", "c")
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


# ------------------------------------------------------------- harmonic
# Wave 17 — harmonic centrality over the near-dup graph (Boldi & Vigna
# 2014, the axiomatically-sound centrality; completes the graph family:
# CC → representatives, PageRank → influence, triangles → cohesion,
# BFS → eccentricity, k-core → density, THIS → closeness-with-axioms).
# In dedup terms: a high-harmonic document sits near everything in a
# duplication family — the natural canonical-representative score.


def _build_harmonic_oracle() -> str:
    return f"""
    WITH RECURSIVE {DUCK_SHINGLE_SETS},
    pairs AS (
      {NEAR_DUP_PAIRS}
    ),
    e AS ({undirected_edges_sql("UNION")}),
    bfs(s, n, d) AS (
      SELECT u, v, 1 FROM e
      UNION
      SELECT b.s, e.v, b.d + 1 FROM bfs b JOIN e ON e.u = b.n
      WHERE b.d < 8 AND e.v <> b.s
    ),
    md AS (SELECT s, n, MIN(d) AS d FROM bfs GROUP BY s, n)
    SELECT n AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_reachable,
           CAST(SUM(CAST(ROUND(1000000.0 / d) AS BIGINT)) AS BIGINT)
             AS harmonic_micro
    FROM md GROUP BY n ORDER BY doc_id"""


@query(
    "graph_harmonic_centrality",
    oracle=_build_harmonic_oracle(),
    tags=("llm", "dedup", "graph"),
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality per document over the near-dup graph (Boldi &
    Vigna 2014: H(v) = Σ 1/d(u,v) — the centrality satisfying all their
    axioms, robust to disconnected graphs where closeness is not): the
    natural canonical-representative score inside duplication families.
    Distances by multi-source frontier expansion capped at 8 hops
    (near-dup components have diameter 1-3; the >8-hop contribution is
    < 0.125 per pair, stated); reciprocals are micro-rounded per pair
    (exact integers for every d) and summed order-free, so the driver
    hash pins the full distance structure. Only docs with ≥1 near-dup
    edge appear (isolated docs have H = 0 by definition and would bloat
    the relation with zeros).

    Plan: the LSH pair list symmetrized once; each BFS round is ONE
    (frontier ⋈ edges) join + a (s, n)-keyed min — all graph-sized, the
    corpus is never touched after candidate generation. The DuckDB
    oracle replays the identical capped BFS as a recursive CTE."""
    from ..operators import dedup as D
    from ..operators.graph import harmonic_centrality

    docs = load_tables(spark, sf_dir, "documents").documents
    pairs = D.minhash_lsh_dedup(docs, threshold=0.5).select("doc_a", "doc_b")
    return (
        harmonic_centrality(pairs)
        .select(
            F.col("node").alias("doc_id"), "n_reachable", "harmonic_micro"
        )
        .orderBy("doc_id")
    )


# -------------------------------------------------------- Burrows' Delta
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
    cs = _word_counts(docs, "source", "c")
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
