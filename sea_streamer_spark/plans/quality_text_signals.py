"""Text-quality signals: readability, lexical richness, Good-Turing,
character entropy, chi-square feature selection and STTR.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as T
from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .fragments import DUCK_SHINGLE_SETS, duck_gopher_pass
from .registry import query


# Readability scoring (Flesch reading-ease / Flesch-Kincaid grade) — the
# classic text-quality covariate a curation stack reports beside the
# Gopher gates (Flesch 1948; Kincaid et al. 1975). Counts are integers
# (words, sentence-terminator runs, vowel-group syllable heuristic with
# the standard >=1-per-word floor); the two formulas are evaluated once
# per SOURCE over pooled integer sums with identical double arithmetic
# in both engines, then milli-floored — the one-float-then-fixed-point
# rule. On this synthetic corpus no document carries sentence
# terminators, so sentences degenerate to one per document (stated here,
# measured by the n_sentences == n_docs column equality, and harmless:
# the operator is the deliverable, the corpus is the fixture).
@query(
    "text_readability_scores",
    oracle="""
    WITH per_doc AS (
      SELECT source,
             CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                  w -> len(w) > 0)) AS BIGINT) AS n_words,
             CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS n_sentences,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(
                      list_filter(string_split_regex(lower(text), '\\s+'),
                                  w -> len(w) > 0),
                      w -> CAST(GREATEST(
                             len(regexp_extract_all(w, '[aeiouy]+')), 1)
                           AS BIGINT))),
                    (a, b) -> a + b) AS BIGINT) AS n_syllables
      FROM documents
    ),
    pooled AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS n_words,
             CAST(SUM(n_sentences) AS BIGINT) AS n_sentences,
             CAST(SUM(n_syllables) AS BIGINT) AS n_syllables
      FROM per_doc GROUP BY source
    )
    SELECT source, n_docs, n_words, n_sentences, n_syllables,
           CAST(FLOOR(390.0 * n_words / n_sentences
                      + 11800.0 * n_syllables / n_words
                      - 15590.0) AS BIGINT) AS fk_grade_milli,
           CAST(FLOOR(206835.0 - 1015.0 * n_words / n_sentences
                      - 84600.0 * n_syllables / n_words) AS BIGINT)
             AS fre_milli
    FROM pooled ORDER BY source
    """,
    tags=("llm", "text", "quality"),
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease and Flesch-Kincaid grade per source, pooled:
    FK = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59,
    FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    both reported milli-floored. Syllables use the vowel-group heuristic
    (runs of [aeiouy], floored at 1 per word — the standard public
    approximation); sentences are terminator runs ([.!?]+), floored at 1
    per document. Pure projection + one groupBy(source): two map-side
    aggregable sums, no joins, no Python — the shape survives any corpus
    size (the formulas touch only the 20-row pooled relation)."""
    t = load_tables(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower("text"), r"\s+"), lambda w: F.length(w) > 0
    )
    syl = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(F.regexp_count(w, F.lit("[aeiouy]+")), F.lit(1)).cast(
            "long"
        ),
    )
    per_doc = t.documents.select(
        "source",
        F.size(words).cast("long").alias("n_words"),
        F.greatest(F.regexp_count("text", F.lit("[.!?]+")), F.lit(1))
        .cast("long")
        .alias("n_sentences"),
        syl.alias("n_syllables"),
    )
    pooled = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_sentences").cast("long").alias("n_sentences"),
        F.sum("n_syllables").cast("long").alias("n_syllables"),
    )
    w_s = F.lit(390.0) * F.col("n_words") / F.col("n_sentences")
    y_w = F.lit(11800.0) * F.col("n_syllables") / F.col("n_words")
    fre = (
        F.lit(206835.0)
        - F.lit(1015.0) * F.col("n_words") / F.col("n_sentences")
        - F.lit(84600.0) * F.col("n_syllables") / F.col("n_words")
    )
    return pooled.select(
        "source",
        "n_docs",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.floor(w_s + y_w - F.lit(15590.0)).cast("long").alias("fk_grade_milli"),
        F.floor(fre).cast("long").alias("fre_milli"),
    ).orderBy("source")


# Lexical-richness profile per source (Yule 1944; the stylometric
# vocabulary-diversity battery beside Burrows' Delta and the JSD
# matrix): type-token ratio, hapax-legomena share, and Yule's K — the
# repetitiveness characteristic K = 10^4 * (sum_r r^2*S_r - N) / N^2
# that is length-robust where raw TTR is not. Everything derives from
# the per-(source, word) count relation: N = sum c, V = count types,
# V1 = count(c=1), S2 = sum c^2 — one keyed aggregate, all integers,
# exact floor divisions at the end.
@query(
    "text_lexical_richness",
    oracle="""
    WITH wc AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT source, unnest(list_filter(
          string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS w
        FROM documents
      ) GROUP BY source, w
    ),
    per AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(CAST(c = 1 AS BIGINT)) AS BIGINT) AS n_hapax,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM wc GROUP BY source
    )
    SELECT source, n_tokens, n_types, n_hapax,
           CAST(1000 * n_types // n_tokens AS BIGINT) AS ttr_permille,
           CAST(1000 * n_hapax // n_types AS BIGINT) AS hapax_permille,
           CAST(10000000 * (s2 - n_tokens) // (n_tokens * n_tokens)
                AS BIGINT) AS yule_k_milli
    FROM per ORDER BY source
    """,
    tags=("llm", "text", "quality"),
)
def text_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical richness: type-token ratio, hapax share, and
    Yule's K (milli) — the vocabulary-diversity fingerprint a curation
    stack reads beside readability and the stylometric matrices (a
    template-stamped source shows low K-variance and a collapsed hapax
    share). One (source, word)-keyed count with map-side partials, then
    a source-keyed integer aggregate; divisions are exact integer
    floors. Linear in tokens, dimension-sized after the word table."""
    docs = load_tables(spark, sf_dir, "documents").documents
    toks = F.filter(T.tokens("text"), lambda w: F.length(w) > 0)
    wc = (
        docs.select("source", F.explode(toks).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per = wc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n_hapax"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    return per.select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        idiv_col(F.lit(1000) * F.col("n_types"), F.col("n_tokens")).alias(
            "ttr_permille"
        ),
        idiv_col(F.lit(1000) * F.col("n_hapax"), F.col("n_types")).alias(
            "hapax_permille"
        ),
        idiv_col(
            F.lit(10000000) * (F.col("s2") - F.col("n_tokens")),
            F.col("n_tokens") * F.col("n_tokens"),
        ).alias("yule_k_milli"),
    ).orderBy("source")


# Good-Turing frequency spectrum (Good 1953) — the unseen-mass estimate
# that completes the LM-smoothing story beside Kneser-Ney and the
# unigram trainer: from the frequency-of-frequencies table S_r of
# 3-token SHINGLES (the corpus's word vocabulary is fixture-tiny and
# saturates — every word occurs far more than 10 times — so the word
# grain has an empty spectrum; shingles carry the real tail), the
# smoothed count r* = (r+1) S_{r+1} / S_r and the Turing unseen mass
# p0 = S_1 / N. Counts and exact rationals of counts only; rows where
# the estimator is undefined (S_{r+1} = 0) report -1, never NULL.
@query(
    "quality_good_turing_spectrum",
    oracle=f"""
    WITH {DUCK_SHINGLE_SETS},
    sc AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS c FROM shing GROUP BY sh),
    fof AS (
      SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS s_r FROM sc GROUP BY c
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM sc),
    s1 AS (SELECT COALESCE((SELECT s_r FROM fof WHERE r = 1), 0) AS s_1),
    grid AS (SELECT unnest(generate_series(1, 10)) AS r)
    SELECT CAST(g.r AS BIGINT) AS r,
           COALESCE(f.s_r, 0) AS s_r,
           CASE WHEN COALESCE(f.s_r, 0) = 0 OR COALESCE(f1.s_r, 0) = 0
                THEN CAST(-1 AS BIGINT)
                ELSE CAST(1000 * (g.r + 1) * f1.s_r // f.s_r AS BIGINT)
           END AS r_star_milli,
           CAST(1000 * (SELECT s_1 FROM s1) // (SELECT n FROM tot)
                AS BIGINT) AS unseen_mass_permille
    FROM grid g
    LEFT JOIN fof f ON f.r = g.r
    LEFT JOIN fof f1 ON f1.r = g.r + 1
    ORDER BY r
    """,
    tags=("llm", "quality", "text"),
)
def quality_good_turing_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing spectrum rows r = 1..10 over 3-token shingle
    occurrences: the frequency-of-frequencies S_r, the smoothed count
    r* = (r+1)S_{r+1}/S_r (milli; -1 where the raw estimator is
    undefined), and the Turing unseen-mass estimate S_1/N (permille,
    repeated per row for a stable schema) — the number that says how
    much novel-text mass the corpus still hides, read before trusting
    contamination or novelty rates. Plan: one shingle-keyed count, one
    count-keyed count (both map-side-combinable), then arithmetic on a
    10-row grid against the spectrum — the corpus is touched once."""
    from ..operators.dedup import _shingle_array

    docs = load_tables(spark, sf_dir, "documents").documents
    sc = (
        docs.select(F.explode(_shingle_array("text")).alias("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    fof = sc.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("s_r")
    )
    tot = sc.agg(F.sum("c").cast("long").alias("n"))
    s1 = (
        fof.filter(F.col("r") == 1)
        .select(F.col("s_r").alias("s_1"))
        .unionAll(spark.createDataFrame([(0,)], "s_1 long"))
        .limit(1)
    )
    grid = spark.range(1, 11).select(F.col("id").cast("long").alias("r"))
    f1 = fof.select((F.col("r") - 1).alias("r"), F.col("s_r").alias("s_r1"))
    dense = (
        grid.join(F.broadcast(fof), "r", "left")
        .join(F.broadcast(f1), "r", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(s1))
        .select(
            "r",
            F.coalesce("s_r", F.lit(0)).cast("long").alias("s_r"),
            F.coalesce("s_r1", F.lit(0)).cast("long").alias("s_r1"),
            "n",
            F.coalesce("s_1", F.lit(0)).cast("long").alias("s_1"),
        )
    )
    r_star = F.when(
        (F.col("s_r") == 0) | (F.col("s_r1") == 0), F.lit(-1).cast("long")
    ).otherwise(
        idiv_col(F.lit(1000) * (F.col("r") + 1) * F.col("s_r1"), F.col("s_r"))
    )
    return dense.select(
        "r",
        "s_r",
        r_star.alias("r_star_milli"),
        idiv_col(F.lit(1000) * F.col("s_1"), F.col("n")).alias(
            "unseen_mass_permille"
        ),
    ).orderBy("r")


# Order-0 character entropy per document (Shannon 1948) — the
# compressibility proxy quality filters use to catch base64 blobs,
# repeated-char padding and binary-ish garbage (low entropy = highly
# compressible = suspicious; CCNet and Gopher both carry an
# entropy-adjacent screen). The identity H = ln n − (1/n)·Σ c·ln c
# needs one fewer division than the Σ p·ln p form: per-class c·ln c
# terms are micro-rounded (order-free integer sum), and the only other
# roundings are ln n and the final integer floor division.
@query(
    "text_char_entropy",
    oracle="""
    WITH cc AS (
      SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k FROM (
        SELECT doc_id, unnest(string_split(text, '')) AS c
        FROM documents WHERE length(text) > 0
      ) GROUP BY doc_id, c
    )
    SELECT doc_id,
           CAST(SUM(k) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           CAST(CAST(ROUND(ln(CAST(SUM(k) AS DOUBLE)) * 1000000) AS BIGINT)
                - SUM(CAST(ROUND(k * ln(CAST(k AS DOUBLE)) * 1000000)
                      AS BIGINT)) // SUM(k) AS BIGINT) AS entropy_micro
    FROM cc GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc order-0 char entropy (micro-nats) with char count and
    alphabet size: the compressibility screen. Plan: one char explode
    into a (doc, char) aggregate (alphabet-bounded per doc), one
    doc-keyed rollup; entropy via the single-division identity, terms
    micro-rounded before the order-free sum."""
    docs = load_tables(spark, sf_dir, "documents").documents.filter(
        F.length("text") > 0
    )
    cc = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    return (
        cc.groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_chars"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
            (
                F.round(F.log(F.sum("k").cast("double")) * 1_000_000).cast(
                    "long"
                )
                - idiv_col(
                    F.sum(
                        F.round(
                            F.col("k") * F.log(F.col("k").cast("double")) * 1_000_000
                        ).cast("long")
                    ),
                    F.sum("k"),
                )
            )
            .cast("long")
            .alias("entropy_micro"),
        )
        .orderBy("doc_id")
    )


# χ² feature selection for the NB quality classifier (Manning, Raghavan
# & Schütze, "Introduction to Information Retrieval" §13.5, 2008): per
# term, the 2×2 presence/label contingency over the SAME training split
# the registered NB chain uses (doc_id % 2 = 0, gopher pass labels —
# single-sourced so this table names the features that drive the
# registered classifier, not some other one). With a = pass docs
# containing the term, b = fail docs containing it, P/F = train class
# sizes: ad − bc simplifies to a·F − b·P, and
#     χ² = N·(a·F − b·P)² / (df·(N−df)·P·F),   df = a+b, N = P+F
# — all-integer with the 1e6 scaling applied inside decimal space
# (N·(aF−bP)² passes 2^63 long before the corpus is big). Ubiquitous
# terms (df = N) are excluded: their denominator is 0 and their signal
# is definitionally nil.
@query(
    "quality_chi2_feature_selection",
    oracle=f"""
    WITH {duck_gopher_pass()},
    pres AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
        FROM documents WHERE doc_id % 2 = 0
      ) WHERE len(w) > 0
    ),
    tots AS (
      SELECT CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS np,
             CAST(SUM(CASE WHEN passes THEN 0 ELSE 1 END) AS BIGINT) AS nf
      FROM labels WHERE doc_id % 2 = 0
    ),
    cont AS (
      SELECT p.w,
             CAST(SUM(CASE WHEN l.passes THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN l.passes THEN 0 ELSE 1 END) AS BIGINT) AS b
      FROM pres p JOIN labels l USING (doc_id)
      GROUP BY p.w
    ),
    chi AS (
      SELECT w, a, b, a + b AS df,
             CAST(1000000 * (np + nf)
                  * CAST(a * nf - b * np AS HUGEINT)
                  * CAST(a * nf - b * np AS HUGEINT)
                  // (CAST(a + b AS HUGEINT) * (np + nf - a - b) * np * nf)
                  AS BIGINT) AS chi2_micro
      FROM cont CROSS JOIN tots
      WHERE a + b < np + nf
    )
    SELECT w AS term, a AS n_pass_docs, b AS n_fail_docs, df AS doc_freq,
           chi2_micro
    FROM chi
    ORDER BY chi2_micro DESC, term LIMIT 25
    """,
    tags=("llm", "quality", "text"),
)
def quality_chi2_feature_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-25 χ²-selected terms (micro) for the registered NB quality
    classifier's training split — which vocabulary actually separates
    gopher-pass from gopher-fail. One distinct (doc, term) presence
    explode over the train half, one term-keyed contingency aggregate,
    broadcast class totals, decimal-safe χ², TakeOrdered(25)."""
    from ..operators import quality as Q

    docs = load_tables(spark, sf_dir, "documents").documents
    labels = Q.gopher_quality_flags(docs).select("doc_id", "passes")
    pres = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                    lambda x: F.length(x) > 0,
                )
            ).alias("w"),
        )
        .distinct()
    )
    cont = (
        pres.join(labels, "doc_id")
        .groupBy("w")
        .agg(
            F.sum(F.when(F.col("passes"), 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when(F.col("passes"), 0).otherwise(1))
            .cast("long")
            .alias("b"),
        )
    )
    tots = (
        labels.filter(F.col("doc_id") % 2 == 0)
        .agg(
            F.sum(F.when(F.col("passes"), 1).otherwise(0))
            .cast("long")
            .alias("np"),
            F.sum(F.when(F.col("passes"), 0).otherwise(1))
            .cast("long")
            .alias("nf"),
        )
    )
    d = cont.crossJoin(F.broadcast(tots)).filter(
        F.col("a") + F.col("b") < F.col("np") + F.col("nf")
    )
    diff = (
        F.col("a").cast("decimal(38,0)") * F.col("nf")
        - F.col("b").cast("decimal(38,0)") * F.col("np")
    )
    num = (
        (F.col("np") + F.col("nf")).cast("decimal(38,0)") * diff * diff
    ).cast("decimal(38,0)")
    den = (
        (F.col("a") + F.col("b")).cast("decimal(38,0)")
        * (F.col("np") + F.col("nf") - F.col("a") - F.col("b"))
        * F.col("np")
        * F.col("nf")
    ).cast("decimal(38,0)")
    return (
        d.select(
            F.col("w").alias("term"),
            F.col("a").alias("n_pass_docs"),
            F.col("b").alias("n_fail_docs"),
            (F.col("a") + F.col("b")).cast("long").alias("doc_freq"),
            idiv_col(num, den, scale=1_000_000).alias("chi2_micro"),
        )
        .orderBy(F.desc("chi2_micro"), F.asc("term"))
        .limit(25)
    )


# Standardized type-token ratio (STTR; Johnson 1944's segmented TTR —
# the fix for raw TTR's length dependence the lexical-richness wave
# documents): per document, the mean TTR over consecutive 50-token
# chunks (only FULL chunks count — the standard convention, stated).
# Distinct-per-chunk counts are integers; chunk TTRs are exact permille
# (1000·distinct // 50 — the denominator is constant, so the floor is
# shared); the doc STTR is the exact integer mean of chunk permilles.
_STTR_CHUNK = 50


@query(
    "text_sttr_profile",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, w,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                  - 1 AS BIGINT) // {_STTR_CHUNK} AS chunk,
             CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tok
      FROM (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                              x -> len(x) > 0)) AS w,
               generate_subscripts(list_filter(
                 string_split_regex(text, '\\s+'), x -> len(x) > 0), 1)
                 AS pos
        FROM documents
      )
    ),
    chunks AS (
      SELECT doc_id, chunk,
             CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types,
             CAST(COUNT(*) AS BIGINT) AS n_in_chunk
      FROM toks GROUP BY doc_id, chunk
    ),
    full_chunks AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(1000 * n_types // {_STTR_CHUNK}) AS BIGINT) AS s
      FROM chunks WHERE n_in_chunk = {_STTR_CHUNK}
      GROUP BY doc_id
    )
    SELECT doc_id, n_chunks,
           CAST(s // n_chunks AS BIGINT) AS sttr_permille
    FROM full_chunks
    ORDER BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def text_sttr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document standardized TTR: mean exact-permille type/token
    ratio over full 50-token chunks (partial tail chunks excluded — the
    standard convention). One token explode with a doc-keyed position
    window, one (doc, chunk) distinct aggregate, one doc rollup; all
    integer."""
    from pyspark.sql.window import Window

    from ..operators import text as T

    docs = load_tables(spark, sf_dir, "documents").documents
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(T.tokens("text"), lambda w: F.length(w) > 0)
        ).alias("pos", "w"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    chunked = toks.select(
        "doc_id",
        "w",
        idiv_col(
            F.row_number().over(w_doc).cast("long") - 1,
            F.lit(_STTR_CHUNK),
        ).alias("chunk"),
    )
    chunks = chunked.groupBy("doc_id", "chunk").agg(
        F.countDistinct("w").cast("long").alias("n_types"),
        F.count(F.lit(1)).cast("long").alias("n_in_chunk"),
    )
    full_chunks = (
        chunks.filter(F.col("n_in_chunk") == _STTR_CHUNK)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(
                idiv_col(F.col("n_types"), F.lit(_STTR_CHUNK), scale=1000)
            )
            .cast("long")
            .alias("s"),
        )
    )
    return full_chunks.select(
        "doc_id",
        "n_chunks",
        idiv_col(F.col("s"), F.col("n_chunks")).alias("sttr_permille"),
    ).orderBy("doc_id")
