"""Sub-document dedup: duplicated spans and their removal, exact
substrings, line dedup, containment, winnowing and content-defined
chunking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import dedup as D
from ..operators.dedup import duplicated_span_coverage
from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .fragments import DUCK_SHINGLE_SETS, shingle_overlap_sql
from .registry import query


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


#: Shared by dedup_span_coverage and its salted (skew-immune) variant —
#: same semantics, different physical plan, one oracle.
_SPAN_COVERAGE_ORACLE = f"""
    WITH {DUCK_DUP_3GRAM_COVER}, covered AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS covered_tokens
      FROM cov GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(COALESCE(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
           CAST(CASE WHEN len(t.tk) > 0
                THEN FLOOR(COALESCE(c.covered_tokens, 0) * 1000.0 / len(t.tk))
                ELSE 0 END AS BIGINT) AS dup_permille
    FROM toks t LEFT JOIN covered c USING (doc_id)
    ORDER BY doc_id
    """


@query(
    "dedup_span_coverage",
    oracle=_SPAN_COVERAGE_ORACLE,
    tags=("llm", "dedup"),
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage (Lee et al. arXiv:2107.06499,
    the exact-substring dedup metric as a k-gram corpus join) — see
    operators/dedup.duplicated_span_coverage for the plan shape (positional
    k-gram explode, one k-gram-keyed count shuffle, same-key join back,
    doc-keyed distinct-covered-index count; never corpus²)."""
    t = load_tables(spark, sf_dir, "documents")
    return duplicated_span_coverage(t.documents).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "covered_tokens",
        "dup_permille",
    ).orderBy("doc_id")


@query(
    "dedup_span_coverage_salted",
    oracle=_SPAN_COVERAGE_ORACLE,
    tags=("llm", "dedup", "skew"),
)
def dedup_span_coverage_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-immune salted-two-phase formulation of span coverage (the
    production swap r4 ADVICE #4 asked to be named): groupBy count with
    map-side partials + an n_salts-replicated join back, so a boilerplate
    k-gram costs n_salts bounded tasks instead of one hot window partition.
    Same output (and the SAME oracle) as dedup_span_coverage — registered
    separately so the swap is itself correctness-proven, not just
    documented. See operators/dedup.duplicated_span_coverage_salted."""
    from ..operators.dedup import duplicated_span_coverage_salted

    t = load_tables(spark, sf_dir, "documents")
    return duplicated_span_coverage_salted(t.documents).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "covered_tokens",
        "dup_permille",
    ).orderBy("doc_id")


# Corpus-wide line-level dedup (Falcon / RefinedWeb style)

#: Exactly 8 whitespace tokens, prepended to every doc so it forms line 0
#: of every document — the boilerplate that line-dedup exists to remove.
_BOILERPLATE = "subscribe to our newsletter for updates today now"


#: Tokens per line (docs are single-line; the fixed-width re-lining is the
#: deterministic stand-in for real newline structure).
_LINE_W = 8


#: A line occurring this many times corpus-wide (multiplicity counted) is
#: boilerplate and removed from every document.
_LINE_FREQ_CUT = 2


@query(
    "text_line_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(
               string_split_regex('{_BOILERPLATE} ' || text, '\\s+'),
               x -> len(x) > 0) AS tk
      FROM documents
    ), lines AS (
      SELECT doc_id, i AS pos,
             array_to_string(
               list_slice(tk, i*{_LINE_W}+1, i*{_LINE_W}+{_LINE_W}), ' ')
               AS line
      FROM toks,
           unnest(generate_series(0, (len(tk) + {_LINE_W} - 1) // {_LINE_W} - 1))
             AS t(i)
    ), freq AS (
      SELECT line, COUNT(*) AS n FROM lines GROUP BY line
    ), kept AS (
      SELECT l.doc_id, l.pos, l.line
      FROM lines l JOIN freq f USING (line)
      WHERE f.n < {_LINE_FREQ_CUT}
    ), agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_kept,
             md5(string_agg(line, chr(10) ORDER BY pos)) AS kept_fp
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST((len(t.tk) + {_LINE_W} - 1) // {_LINE_W} AS BIGINT) AS n_lines,
           CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(a.kept_fp, md5('')) AS kept_fp
    FROM toks t LEFT JOIN agg a USING (doc_id)
    ORDER BY t.doc_id
    """,
    tags=("llm", "dedup"),
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line-level dedup (Falcon/RefinedWeb: drop every line that
    appears ≥ cut times across the corpus, keep survivors in document
    order). Docs are single-line, so both engines re-line deterministically
    into fixed 8-token windows after prepending one shared boilerplate
    sentence (which therefore becomes line 0 of every doc and MUST be
    removed — the driver hash proves it). Plan: map-side re-lining
    (explode), ONE line-keyed count shuffle, an equi-join back (volume
    scales with duplicated text), and a doc-keyed positional reassembly —
    never doc² and never a global sort."""
    docs = load_tables(spark, sf_dir, "documents").documents
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.concat(F.lit(_BOILERPLATE + " "), F.col("text")), r"\s+"),
            lambda x: F.length(x) > 0,
        ).alias("tk"),
    )
    toks = toks.withColumn(
        "n_lines", F.floor((F.size("tk") + _LINE_W - 1) / F.lit(_LINE_W))
    )
    # n_lines >= 1 guard (r3 ADVICE #2): sequence(0, -1) on an empty doc
    # auto-negates the step into [0, -1] — two phantom empty lines. The
    # boilerplate prefix makes n_lines >= 1 here by construction, but the
    # guard keeps the shared re-lining pattern safe for arbitrary corpora
    # (and matches DuckDB, whose generate_series(0, -1) is empty).
    lines = toks.filter(F.col("n_lines") >= 1).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (F.col("n_lines") - 1).cast("int")),
                lambda i: F.array_join(
                    F.slice(F.col("tk"), i * _LINE_W + 1, _LINE_W), " "
                ),
            )
        ).alias("pos", "line"),
    )
    freq = lines.groupBy("line").agg(F.count(F.lit(1)).alias("n"))
    kept = (
        lines.join(freq, "line")
        .filter(F.col("n") < _LINE_FREQ_CUT)
        .select("doc_id", "pos", "line")
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            )
        ).alias("kept_fp"),
    )
    base = toks.select("doc_id", F.col("n_lines").cast("long").alias("n_lines"))
    return (
        base.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce(F.col("kept_fp"), F.md5(F.lit(""))).alias("kept_fp"),
        )
        .orderBy("doc_id")
    )


# Exact-substring span removal (the apply side of dedup_span_coverage)
@query(
    "dedup_span_removal",
    oracle=f"""
    WITH {DUCK_DUP_3GRAM_COVER}, {DUCK_SPAN_REMOVAL_TAIL}
    """,
    tags=("llm", "dedup"),
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span REMOVAL (Lee et al. arXiv:2107.06499 — the
    rewrite that `dedup_span_coverage` only measures): every token lying
    under a corpus-duplicated 3-gram is cut, survivors keep document
    order. One k-gram count shuffle + same-key join + a (doc,idx)-keyed
    anti-join + positional reassembly — volume scales with duplicated
    text, never corpus². The driver hash checks every rewritten document
    byte-for-byte (md5 of the rebuilt text)."""
    from ..operators.dedup import duplicated_span_removal

    docs = load_tables(spark, sf_dir, "documents").documents
    return duplicated_span_removal(docs).orderBy("doc_id")


@query(
    "text_containment_pairs",
    oracle=f"""
    WITH {DUCK_SHINGLE_SETS},
    inter AS (
      {shingle_overlap_sql()}
    )
    SELECT doc_a, doc_b,
           CAST(FLOOR(1000.0 * inter / sa.n) AS BIGINT) AS cont_a_permille,
           CAST(FLOOR(1000.0 * inter / sb.n) AS BIGINT) AS cont_b_permille
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE FLOOR(1000.0 * inter / sa.n) >= 800
       OR FLOOR(1000.0 * inter / sb.n) >= 800
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup", "text"),
)
def text_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs (operators/dedup.
    containment_pairs): C(a→b) = |A∩B|/|A| at >= 0.8 in either
    direction — the subset/quote detector symmetric Jaccard structurally
    misses (a short doc wholly inside a long one has C ~ 1 but J ~
    |A|/|B|). Integer permille fixed-point, engine-exact; shared-shingle
    equi-join volume, never corpus²."""
    t = load_tables(spark, sf_dir, "documents")
    return D.containment_pairs(
        t.documents, threshold_permille=800
    ).orderBy("doc_a", "doc_b")


#: Lee et al. use 50 BPE tokens as the duplication threshold; 10 words is
#: the analogous grain for the synthetic corpus (which carries ~1k
#: duplicated 10-grams at every sf, so the query is non-trivial at all
#: test scales).
_SPAN_L = 10


@query(
    "dedup_exact_substring_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS tk FROM documents
    ), sh AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+{_SPAN_L - 1}], ' ') AS sh
      FROM toks, unnest(generate_series(1, len(tk) - {_SPAN_L - 1})) AS u(i)
      WHERE len(tk) >= {_SPAN_L}
    ), dup AS (
      SELECT sh, COUNT(*) AS n_occ FROM sh GROUP BY sh HAVING COUNT(*) >= 2
    ), starts AS (
      SELECT s.doc_id, s.pos, d.n_occ FROM sh s JOIN dup d USING (sh)
    ), isl AS (
      SELECT doc_id, pos, n_occ,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM starts
    ), spans AS (
      SELECT doc_id, MIN(pos) AS span_start,
             MAX(pos) + {_SPAN_L - 1} AS span_end,
             CAST(MIN(n_occ) AS BIGINT) AS n_occ_min
      FROM isl GROUP BY doc_id, grp
    )
    SELECT s.doc_id,
           CAST(s.span_start AS BIGINT) AS span_start,
           CAST(s.span_end - s.span_start + 1 AS BIGINT) AS span_len,
           s.n_occ_min,
           md5(array_to_string(t.tk[s.span_start + 1 : s.span_end + 1], ' '))
             AS span_fp
    FROM spans s JOIN toks t USING (doc_id)
    ORDER BY s.doc_id, s.span_start
    """,
    tags=("llm", "dedup"),
)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-span extraction at suffix-array grain (Lee et
    al. arXiv:2107.06499's suffix-array half, which the k=3-gram coverage
    queries approximate at k-gram grain): every maximal run of positions
    whose L=10-gram occurs >= 2 times corpus-wide is one span — it cannot
    extend left or right because the flanking L-gram is NOT duplicated
    and any longer substring would contain it. One map-side-partial
    L-gram count + salted join-back + a per-doc gaps-and-islands window
    over duplicated start positions only (operators/dedup.py
    maximal_duplicate_spans; volume scales with duplicated text, never
    corpus²). tests/test_dedup_spans.py proves boundary exactness on a
    crafted corpus, including the adjacent-self-repeat case where the
    wrap-around grams are unique so the two copies correctly do NOT
    merge."""
    from ..operators.dedup import maximal_duplicate_spans

    docs = load_tables(spark, sf_dir, "documents").documents
    return maximal_duplicate_spans(docs, min_len=_SPAN_L).orderBy(
        "doc_id", "span_start"
    )


@query(
    "dedup_span_removal_exact",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS tk FROM documents
    ), sh AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+{_SPAN_L - 1}], ' ') AS sh
      FROM toks, unnest(generate_series(1, len(tk) - {_SPAN_L - 1})) AS u(i)
      WHERE len(tk) >= {_SPAN_L}
    ), dup AS (
      SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) >= 2
    ), cov AS (
      SELECT DISTINCT doc_id, idx FROM (
        SELECT s.doc_id, s.pos + unnest(generate_series(0, {_SPAN_L - 1})) AS idx
        FROM sh s JOIN dup USING (sh)
      )
    ), {DUCK_SPAN_REMOVAL_TAIL}
    """,
    tags=("llm", "dedup"),
)
def dedup_span_removal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span removal at EXACT duplication boundaries — the cut
    ``dedup_span_removal`` (k=3-gram grain, removes any token under a
    duplicated 3-gram) was always meant to converge to: only tokens
    inside a maximal duplicated span of length >= L=10 are removed, so
    short incidental 3-gram echoes survive and long boilerplate is cut
    precisely at its edges (Lee et al. arXiv:2107.06499 §4.1 semantics —
    their suffix-array threshold, here the L-gram island equivalent).
    Plan: the maximal_duplicate_spans relation (map-side-partial count +
    salted join-back + per-doc islands) exploded back to covered (doc,
    idx) pairs, one (doc, idx)-keyed anti-join, one doc-keyed positional
    reassembly — identical economics to dedup_span_removal with the
    grain knob moved from 3 to 10. The driver hash-checks every
    rewritten document byte-for-byte (md5 of the rebuilt text)."""
    from pyspark.sql import functions as F

    from ..operators.dedup import maximal_duplicate_spans
    from ..operators.text import tokens

    docs = load_tables(spark, sf_dir, "documents").documents
    spans = maximal_duplicate_spans(docs, min_len=_SPAN_L)
    covered = spans.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.col("span_start"),
                F.col("span_start") + F.col("span_len") - 1,
            )
        ).alias("idx"),
    ).distinct()
    toks_pos = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("idx", "tok")
    )
    kept = toks_pos.join(covered, ["doc_id", "idx"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("clean_fp"),
    )
    base = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return (
        base.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("clean_fp"), F.md5(F.lit(""))).alias("clean_fp"),
        )
        .orderBy("doc_id")
    )


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
WIN_MAX_DF = 50


#: a pair needs at least this many shared fingerprints to be reported.
WIN_MIN_SHARED = 3


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


def duck_winnow_prints() -> str:
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
    WITH {duck_winnow_prints()}
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
    WITH {duck_winnow_prints()},
    ph AS (SELECT DISTINCT doc_id, fp_h FROM prints),
    ok AS (
      SELECT fp_h FROM ph GROUP BY fp_h
      HAVING COUNT(*) BETWEEN 2 AND {WIN_MAX_DF}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM ph a JOIN ph b USING (fp_h) JOIN ok USING (fp_h)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {WIN_MIN_SHARED}
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
            min_df=2, max_df=WIN_MAX_DF,
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WIN_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


# Content-defined chunking dedup (Muthitacharoen, Chen & Mazières,
# "A Low-Bandwidth Network File System", SOSP 2001; Xia et al.,
# "FastCDC", ATC 2016): split every document at positions where the
# rolling hash of the trailing 8 chars satisfies h % 64 == 0, then
# fingerprint the chunks — boundaries depend only on LOCAL content, so
# an insertion shifts one chunk instead of re-aligning the whole doc
# (the property fixed-size blocks lack, and the reason storage dedup
# uses CDC). The rolling window hash is the registry's portable char
# fold over substring(text, i-7, 8); expected chunk length 64. Chunk
# relations are row-based (explode boundaries + one lag window), no
# indexed array lambdas — the same shapes on both engines.
_CDC_WINDOW = 8


_CDC_MASK = 64


def _build_cdc_oracle() -> str:
    from ..operators.text import duck_char_fold

    fold = duck_char_fold(f"substr(text, CAST(i AS INT) - 7, {_CDC_WINDOW})")
    return f"""
    WITH ends AS (
      SELECT doc_id, text, CAST(e AS BIGINT) AS e FROM (
        SELECT doc_id, text,
               unnest(list_append(
                 list_filter(generate_series({_CDC_WINDOW}, length(text)),
                             i -> ({fold}) % {_CDC_MASK} = 0),
                 length(text))) AS e
        FROM documents WHERE length(text) > 0
      )
    ),
    dedup_e AS (SELECT DISTINCT doc_id, text, e FROM ends),
    spans AS (
      SELECT doc_id, e,
             COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS s,
             text
      FROM dedup_e
    ),
    chunks AS (
      SELECT d.source, md5(substr(sp.text, CAST(sp.s AS INT) + 1,
                                  CAST(sp.e - sp.s AS INT))) AS fp,
             sp.e - sp.s AS clen
      FROM spans sp JOIN documents d USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_chunks,
           CAST(1000 * (COUNT(*) - COUNT(DISTINCT fp)) // COUNT(*)
                AS BIGINT) AS dup_chunk_permille,
           CAST(1000 * SUM(clen) // COUNT(*) AS BIGINT)
             AS mean_chunk_len_milli
    FROM chunks GROUP BY source ORDER BY source
    """


@query(
    "dedup_cdc_chunking",
    oracle=_build_cdc_oracle(),
    tags=("llm", "dedup"),
)
def dedup_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source content-defined-chunking dedup profile: chunk count,
    distinct fingerprints, duplicate-chunk rate (permille) and mean
    chunk length (milli) under Rabin-style h%64==0 boundaries over an
    8-char rolling window. Plan: the boundary scan is one JVM
    higher-order filter per doc over a once-built int codes array
    (O(bytes), CDC's inherent cost — r12: fan_out + codes array + a
    Generate barrier, see the inline note); chunk extraction is an
    explode + one doc-keyed lag window + substring — row shapes, no
    driver involvement; the rollup is one keyed aggregate. The text
    column rides the explode (64:1 against the chunk fan-out; at 100 TB
    swap to offsets + a re-join against the doc store if rows are huge
    — documented)."""
    from ..operators.scale import fan_out

    docs = load_tables(spark, sf_dir, "documents").documents.filter(
        F.length("text") > 0
    )
    # r12: the per-position window fold previously re-sliced the string —
    # ``aggregate(split(substring(text, i-7, 8), ''))`` — an interpreted
    # 8-step fold plus an O(i) substring scan and 9 string allocations for
    # EVERY position, all inside the scan's single small-file task. Now a
    # per-doc int codes array is built ONCE (post-fan_out, so the O(bytes)
    # work parallelizes across the shuffle width), and the lambda is 8
    # O(1) array reads + integer arithmetic. The direct 8-term polynomial
    # equals the stepwise fold exactly: each fold step keeps a < 1e9+7 so
    # a*31+c never overflows, hence fold(window) ≡ Σ 31^(7-j)·c_j (mod p),
    # and the direct sum's magnitude is ≤ ~7.3e12 ≪ 2^63. The one-element
    # explode between the codes projection and the boundary lambda is a
    # Generate BARRIER: CollapseProject cannot merge across Generate, so
    # the codes build cannot be re-inlined into the per-position lambda
    # (the documented project-collapse trap, operators/dedup.simhash note).
    # Equivalence is pinned by test_cdc_chunking_full_python_replay and
    # the plan shape by test_cdc_codes_built_once_below_barrier.
    # At-scale memory note (r13, ADVICE): the codes array materializes
    # one int per character NEXT TO the text column through the barrier
    # scan — roughly 5-9x per-row amplification for large documents, on
    # top of the text-rides-the-explode note below. The projection DOES
    # prune codes right after `ends` is built (only ends + text cross the
    # explode), so the amplification is transient per task; for huge-row
    # corpora the swap is recomputing codes per partition slice (or the
    # maxBytesPerBatch-bounded Arrow variant) rather than widening the row.
    coded = (
        fan_out(docs.select("doc_id", "source", "text"), key="doc_id")
        .select(
            "doc_id",
            "source",
            "text",
            F.length("text").cast("long").alias("len"),
            F.expr("transform(split(text, ''), c -> ascii(c))").alias(
                "codes"
            ),
        )
        .select("*", F.explode(F.array(F.lit(1))).alias("__barrier"))
        .drop("__barrier")
    )
    fold = " + ".join(
        f"CAST(codes[CAST(i AS INT) - {_CDC_WINDOW - j}] AS BIGINT)"
        f" * {31 ** (_CDC_WINDOW - 1 - j)}"
        for j in range(_CDC_WINDOW)
    )
    ends = coded.select(
        "doc_id",
        "source",
        "text",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.when(
                        F.col("len") >= _CDC_WINDOW,
                        F.expr(
                            f"filter(sequence(CAST({_CDC_WINDOW} AS BIGINT),"
                            f" len),"
                            f" i -> (({fold}) % 1000000007)"
                            f" % {_CDC_MASK} = 0)"
                        ),
                    ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)")),
                    F.array(F.col("len")),
                )
            )
        ).alias("e"),
    )
    w = Window.partitionBy("doc_id").orderBy("e")
    spans = ends.select(
        "source",
        "text",
        "e",
        F.coalesce(F.lag("e").over(w), F.lit(0).cast("long")).alias("s"),
    )
    chunks = spans.select(
        "source",
        F.md5(
            F.expr("substring(text, CAST(s AS INT) + 1, CAST(e - s AS INT))")
        ).alias("fp"),
        (F.col("e") - F.col("s")).alias("clen"),
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.countDistinct("fp").cast("long").alias("n_distinct_chunks"),
            F.sum("clen").cast("long").alias("tot_len"),
        )
        .select(
            "source",
            "n_chunks",
            "n_distinct_chunks",
            idiv_col(
                F.lit(1000) * (F.col("n_chunks") - F.col("n_distinct_chunks")),
                F.col("n_chunks"),
            ).alias("dup_chunk_permille"),
            idiv_col(F.lit(1000) * F.col("tot_len"), F.col("n_chunks")).alias(
                "mean_chunk_len_milli"
            ),
        )
        .orderBy("source")
    )
