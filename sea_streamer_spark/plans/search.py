"""Lexical search: BM25, snippets, Rocchio expansion, RAKE, query
likelihood and ranking metrics (nDCG, MAP/MRR, Kendall tau).
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import text as T
from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .fragments import TOKS
from .registry import QUERIES, query


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


#: Fixed snippet query term — present at every testdata scale (top-5 global
#: token); the term is a parameter of the real operator, pinned here so the
#: oracle is a closed expression.
_SNIPPET_TERM = "window"


@query(
    "search_snippet_highlight",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ), hit AS (
      SELECT doc_id, toks,
             CAST(list_position(toks, '{_SNIPPET_TERM}') AS BIGINT) AS pos,
             CAST(len(list_filter(toks, t -> t = '{_SNIPPET_TERM}'))
                  AS BIGINT) AS tf
      FROM c
    )
    SELECT doc_id, tf, pos,
           array_to_string(toks[GREATEST(1, pos - 3) :
                                LEAST(CAST(len(toks) AS BIGINT), pos + 3)],
                           ' ') AS snippet
    FROM hit WHERE pos > 0
    ORDER BY tf DESC, doc_id LIMIT 15
    """,
    tags=("llm", "text", "search"),
)
def search_snippet_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-result snippet extraction: for the 15 documents where the
    query term is most frequent, cut a ±3-token window around its FIRST
    occurrence — the result-rendering half of a search stack (BM25 ranks,
    this shows WHY a hit matched). Token-grain windows (array slice), not
    byte offsets, so the snippet is deterministic and identical in any
    engine; ranking ties break by doc id.

    Plan: zero-shuffle projection (split, first-position, term-frequency
    filter) → TakeOrdered top-15. Linear; the only data movement is the
    15-row result."""
    t = load_tables(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    c = t.documents.select("doc_id", toks.alias("toks"))
    hit = c.select(
        "doc_id", "toks",
        F.array_position("toks", _SNIPPET_TERM).cast("long").alias("pos"),
        F.size(
            F.filter("toks", lambda x: x == F.lit(_SNIPPET_TERM))
        ).cast("long").alias("tf"),
    ).filter(F.col("pos") > 0)
    start = F.greatest(F.lit(1).cast("long"), F.col("pos") - 3)
    stop = F.least(F.size("toks").cast("long"), F.col("pos") + 3)
    snippet = F.concat_ws(
        " ", F.slice("toks", start.cast("int"), (stop - start + 1).cast("int"))
    )
    return (
        hit.select("doc_id", "tf", "pos", snippet.alias("snippet"))
        .orderBy(F.desc("tf"), F.asc("doc_id"))
        .limit(15)
    )


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

    k1, b = _BM25_K1, _BM25_B
    # identical operand order + the CAST-to-DOUBLE constant discipline of
    # the search_bm25_topk oracle
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


# Query-likelihood retrieval with Dirichlet smoothing (Zhai & Lafferty,
# SIGIR 2001) — the language-modeling ranker beside BM25/TF-IDF/Rocchio/
# RRF: score(q,d) = sum_t ln((tf + mu*p(t|C)) / (dl + mu)). Unlike BM25
# a query term ABSENT from the document still contributes (the smoothed
# background mass), so the score relation is docs x query-terms dense —
# bounded by |q| (a broadcast-sized constant), never corpus^2. Same
# float contract as search_bm25_topk: per-term float64 from identical
# operands, micro-rounded, summed as BIGINT.
_QL_MU = 2000.0


def _build_ql_oracle() -> str:
    toks = "list_filter(string_split_regex(text, '\\s+'), w -> len(w) > 0)"
    return f"""
    WITH corpus AS (
      SELECT doc_id, {toks} AS toks FROM documents WHERE doc_id <> 0
    ), qt AS (
      SELECT DISTINCT unnest({toks}) AS term
      FROM documents WHERE doc_id = 0
    ), dl AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM corpus
    ), tot AS (
      SELECT CAST(SUM(dl) AS BIGINT) AS t_tokens FROM dl
    ), cf AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS cf
      FROM (SELECT unnest(toks) AS term FROM corpus) JOIN qt USING (term)
      GROUP BY term
    ), tfq AS (
      SELECT c.doc_id, c.term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM corpus) c
      JOIN qt USING (term)
      GROUP BY c.doc_id, c.term
    ), dense AS (
      SELECT dl.doc_id, dl.dl, q.term,
             COALESCE(cf.cf, 0) AS cf, COALESCE(tfq.tf, 0) AS tf
      FROM dl CROSS JOIN qt q
      LEFT JOIN cf ON cf.term = q.term
      LEFT JOIN tfq ON tfq.doc_id = dl.doc_id AND tfq.term = q.term
    ), contrib AS (
      SELECT doc_id,
             CAST(ROUND(
               ln((tf + CAST({_QL_MU!r} AS DOUBLE) * cf
                        / (SELECT t_tokens FROM tot))
                  / (dl + CAST({_QL_MU!r} AS DOUBLE)))
               * 1000000) AS BIGINT) AS micro
      FROM dense
      WHERE cf > 0
    )
    SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS ql_micro
    FROM contrib GROUP BY doc_id
    ORDER BY ql_micro DESC, doc_id LIMIT 15
    """


@query(
    "search_query_likelihood_topk",
    oracle=_build_ql_oracle(),
    tags=("llm", "text", "search"),
)
def search_query_likelihood_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood top-15 (SIGIR 2001), query =
    doc 0's distinct terms against the rest of the corpus (the
    search_bm25_topk convention — compare the two rankers' heads
    side-by-side). Per-(doc, term) ln contribution micro-rounded then
    summed as BIGINT (order-free); the dense doc x term relation rides a
    broadcast of the query terms + collection frequencies, so the plan
    is one corpus token aggregate + one broadcast-joined projection —
    no corpus self-join anywhere. Collection-unseen query terms are
    dropped for every document alike (zero background mass; standard)."""
    docs = load_tables(spark, sf_dir, "documents").documents
    toks = F.filter(T.tokens("text"), lambda w: F.length(w) > 0)
    corpus = docs.filter("doc_id <> 0").select("doc_id", toks.alias("toks"))
    qt = (
        docs.filter("doc_id = 0")
        .select(F.explode(toks).alias("term"))
        .distinct()
    )
    dl = corpus.select("doc_id", F.size("toks").cast("long").alias("dl"))
    tok = corpus.select("doc_id", F.explode("toks").alias("term"))
    tfq = (
        tok.join(F.broadcast(qt), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    cf = (
        tok.join(F.broadcast(qt), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    tot = dl.agg(F.sum("dl").cast("long").alias("t_tokens"))
    dense = (
        dl.crossJoin(F.broadcast(qt.join(cf, "term", "left").select(
            "term", F.coalesce("cf", F.lit(0)).alias("cf")
        )))
        .join(tfq, ["doc_id", "term"], "left")
        .select(
            "doc_id",
            "dl",
            "term",
            "cf",
            F.coalesce("tf", F.lit(0)).cast("long").alias("tf"),
        )
        .filter(F.col("cf") > 0)
        .crossJoin(F.broadcast(tot))
    )
    micro = F.round(
        F.log(
            (F.col("tf") + F.lit(_QL_MU) * F.col("cf") / F.col("t_tokens"))
            / (F.col("dl") + F.lit(_QL_MU))
        )
        * 1000000
    ).cast("long")
    return (
        dense.select("doc_id", micro.alias("micro"))
        .groupBy("doc_id")
        .agg(F.sum("micro").cast("long").alias("ql_micro"))
        .orderBy(F.desc("ql_micro"), F.asc("doc_id"))
        .limit(15)
    )


_NDCG_K = 10


#: discount weights w_i = round(1e6 / log2(i+1)), i = 1..K
_NDCG_W = [round(1_000_000 / _math.log2(i + 1)) for i in range(1, _NDCG_K + 1)]


def _build_ndcg_oracle() -> str:
    ql = _build_ql_oracle().strip().rstrip()
    # weights as a VALUES relation (rank -> micro weight)
    wrows = ", ".join(f"({i + 1}, {w})" for i, w in enumerate(_NDCG_W))
    toks = "list_filter(string_split_regex(text, '\\s+'), w -> len(w) > 0)"
    return f"""
    WITH w(rank, w_micro) AS (VALUES {wrows}),
    ranked AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ql_micro DESC, doc_id)
               AS rank
      FROM ({ql})
    ),
    qt AS (
      SELECT DISTINCT unnest({toks}) AS term
      FROM documents WHERE doc_id = 0
    ),
    rel AS (
      SELECT c.doc_id, CAST(COUNT(DISTINCT c.term) AS BIGINT) AS rel
      FROM (SELECT doc_id, unnest({toks}) AS term
            FROM documents WHERE doc_id <> 0) c
      JOIN qt USING (term)
      GROUP BY c.doc_id
    ),
    dcg AS (
      SELECT CAST(SUM(COALESCE(rel.rel, 0) * w.w_micro) AS BIGINT) AS dcg_micro,
             CAST(SUM(CAST(COALESCE(rel.rel, 0) > 0 AS BIGINT)) AS BIGINT)
               AS n_rel_topk
      FROM ranked JOIN w ON w.rank = ranked.rank
      LEFT JOIN rel ON rel.doc_id = ranked.doc_id
      WHERE ranked.rank <= {_NDCG_K}
    ),
    ideal AS (
      SELECT CAST(SUM(rel * w_micro) AS BIGINT) AS idcg_micro FROM (
        SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rank
        FROM rel
      ) r JOIN w ON w.rank = r.rank
      WHERE r.rank <= {_NDCG_K}
    )
    SELECT dcg.n_rel_topk, dcg.dcg_micro, ideal.idcg_micro,
           CAST(1000 * dcg.dcg_micro // ideal.idcg_micro AS BIGINT)
             AS ndcg_permille
    FROM dcg, ideal
    """


@query(
    "search_ndcg_eval",
    oracle=_build_ndcg_oracle(),
    tags=("llm", "search", "eval"),
)
def search_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 + hit count of the Dirichlet query-likelihood ranking
    against graded term-overlap relevance (distinct query terms present;
    a synthetic judgment, stated as such — the metric machinery is the
    deliverable). Discounts are import-time micro literals, relevance
    and DCG sums are BIGINTs, the final normalization is exact integer
    floor division — no engine computes a float anywhere. Plan: the QL
    top-15 relation (already broadcast-shaped) + one corpus term
    aggregate for relevance; ideal ranking via TakeOrdered over the
    judged-docs relation. One output row."""
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents").documents
    toks = F.filter(T.tokens("text"), lambda w: F.length(w) > 0)
    qt = (
        docs.filter("doc_id = 0")
        .select(F.explode(toks).alias("term"))
        .distinct()
    )
    rel = (
        docs.filter("doc_id <> 0")
        .select("doc_id", F.explode(toks).alias("term"))
        .join(F.broadcast(qt), "term")
        .groupBy("doc_id")
        .agg(F.countDistinct("term").cast("long").alias("rel"))
    )
    w_df = spark.createDataFrame(
        [(i + 1, w) for i, w in enumerate(_NDCG_W)], "rank long, w_micro long"
    )
    ranked = search_query_likelihood_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("ql_micro"), F.asc("doc_id")))
        .cast("long")
        .alias("rank"),
    )
    dcg = (
        ranked.filter(F.col("rank") <= _NDCG_K)
        .join(F.broadcast(w_df), "rank")
        .join(rel, "doc_id", "left")
        .agg(
            F.sum(F.coalesce(F.col("rel"), F.lit(0)) * F.col("w_micro"))
            .cast("long")
            .alias("dcg_micro"),
            F.sum((F.coalesce(F.col("rel"), F.lit(0)) > 0).cast("long"))
            .cast("long")
            .alias("n_rel_topk"),
        )
    )
    ideal = (
        rel.orderBy(F.desc("rel"), F.asc("doc_id"))
        .limit(_NDCG_K)
        .select(
            "rel",
            F.row_number()
            .over(Window.orderBy(F.desc("rel"), F.asc("doc_id")))
            .cast("long")
            .alias("rank"),
        )
        .join(F.broadcast(w_df), "rank")
        .agg(F.sum(F.col("rel") * F.col("w_micro")).cast("long").alias("idcg_micro"))
    )
    return dcg.crossJoin(F.broadcast(ideal)).select(
        "n_rel_topk",
        "dcg_micro",
        "idcg_micro",
        idiv_col(F.lit(1000) * F.col("dcg_micro"), F.col("idcg_micro")).alias(
            "ndcg_permille"
        ),
    )


# MAP@10 + MRR@10 of the query-likelihood ranking (mean average
# precision and mean reciprocal rank — the two classic set-based IR
# metrics beside the graded nDCG already registered; Voorhees, TREC-8
# 1999 for MRR; Buckley & Voorhees 2000 for MAP): same ranking, same
# synthetic term-overlap relevance as search_ndcg_eval (stated, not
# hidden). EVERY number is exact integer arithmetic: P@i = 1e6·relcnt//i,
# AP = ΣP@i // min(R, 10), MRR = 1e6 // first_hit_rank — no float in
# either engine anywhere in this query.
_MAP_K = 10


def _build_map_mrr_oracle() -> str:

    ql = _build_ql_oracle().strip()
    toks = "list_filter(string_split_regex(text, '\\s+'), w -> len(w) > 0)"
    return f"""
    WITH ranked AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY ql_micro DESC, doc_id)
               AS BIGINT) AS rank
      FROM ({ql})
    ),
    qt AS (
      SELECT DISTINCT unnest({toks}) AS term
      FROM documents WHERE doc_id = 0
    ),
    rel AS (
      SELECT c.doc_id FROM (
        SELECT doc_id, unnest({toks}) AS term
        FROM documents WHERE doc_id <> 0
      ) c JOIN qt USING (term)
      GROUP BY c.doc_id
    ),
    hits AS (
      SELECT rank, CAST(ROW_NUMBER() OVER (ORDER BY rank) AS BIGINT)
               AS relcnt
      FROM ranked JOIN rel USING (doc_id)
      WHERE rank <= {_MAP_K}
    ),
    m AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rel) AS r_total,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
             (SELECT CAST(COALESCE(SUM(1000000 * relcnt // rank), 0)
                     AS BIGINT) FROM hits) AS ap_num,
             (SELECT CAST(COALESCE(MIN(rank), 0) AS BIGINT) FROM hits)
               AS first_rank
    )
    SELECT r_total AS n_rel_corpus, n_hits AS n_rel_topk,
           CAST(CASE WHEN first_rank > 0 THEN 1000000 // first_rank
                ELSE 0 END AS BIGINT) AS mrr_micro,
           CAST(CASE WHEN LEAST(r_total, {_MAP_K}) > 0
                THEN ap_num // LEAST(r_total, {_MAP_K})
                ELSE 0 END AS BIGINT) AS map_micro
    FROM m
    """


@query(
    "search_map_mrr_eval",
    oracle=_build_map_mrr_oracle(),
    tags=("llm", "search", "eval"),
)
def search_map_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 and MRR@10 (micro) of the Dirichlet query-likelihood
    ranking against binary term-overlap relevance — completes the
    retrieval eval row (nDCG grades, MAP/MRR count and place). Exact
    integer floor arithmetic end-to-end; the plan reuses the QL top-15
    relation + one corpus term aggregate for the relevance set. One
    output row."""
    from pyspark.sql.window import Window

    from ..operators import text as T

    docs = load_tables(spark, sf_dir, "documents").documents
    toks = F.filter(T.tokens("text"), lambda w: F.length(w) > 0)
    qt = (
        docs.filter("doc_id = 0")
        .select(F.explode(toks).alias("term"))
        .distinct()
    )
    rel = (
        docs.filter("doc_id <> 0")
        .select("doc_id", F.explode(toks).alias("term"))
        .join(F.broadcast(qt), "term")
        .select("doc_id")
        .distinct()
    )
    ranked = search_query_likelihood_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("ql_micro"), F.asc("doc_id")))
        .cast("long")
        .alias("rank"),
    )

    hits = (
        ranked.join(rel, "doc_id")
        .filter(F.col("rank") <= _MAP_K)
        .select(
            "rank",
            F.row_number()
            .over(Window.orderBy("rank"))
            .cast("long")
            .alias("relcnt"),
        )
    )
    r_total = rel.agg(F.count(F.lit(1)).cast("long").alias("r_total"))
    agg = hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.coalesce(
            F.sum(idiv_col(F.col("relcnt"), F.col("rank"), scale=1_000_000)),
            F.lit(0),
        )
        .cast("long")
        .alias("ap_num"),
        F.coalesce(F.min("rank"), F.lit(0)).cast("long").alias("first_rank"),
    )
    return agg.crossJoin(F.broadcast(r_total)).select(
        F.col("r_total").alias("n_rel_corpus"),
        F.col("n_hits").alias("n_rel_topk"),
        F.when(
            F.col("first_rank") > 0,
            idiv_col(F.lit(1), F.col("first_rank"), scale=1_000_000),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("mrr_micro"),
        F.when(
            F.least(F.col("r_total"), F.lit(_MAP_K)) > 0,
            idiv_col(
                F.col("ap_num"), F.least(F.col("r_total"), F.lit(_MAP_K))
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("map_micro"),
    )


# Kendall tau-a between the BM25 and query-likelihood rankings (Kendall,
# Biometrika 1938): do the two registered rankers ORDER the corpus the
# same way? Computed over the documents BOTH engines rank (the QL
# top-15 ∩ BM25 top-15 overlap — stated; rank correlation over a
# top-k overlap is the standard ranker-agreement diagnostic).
# Concordant/discordant pair counts are exact integers over the ≤15²
# overlap pairs; tau-a milli = 1000·(C − D) // (C + D + ties).
def _build_rank_tau_oracle() -> str:
    # Single-source both ranking oracles from the REGISTRY (search_bm25_topk's
    # BM25 oracle is an inline literal): the tau oracle can never
    # disagree with the rankings it claims to compare.

    ql = _build_ql_oracle().strip()
    bm = QUERIES["search_bm25_topk"].oracle.strip()
    return f"""
    WITH qlr AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY ql_micro DESC, doc_id)
               AS BIGINT) AS rq
      FROM ({ql})
    ),
    bmr AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25_micro DESC,
                                             doc_id) AS BIGINT) AS rb
      FROM ({bm})
    ),
    both_r AS (
      SELECT qlr.doc_id, qlr.rq, bmr.rb
      FROM qlr JOIN bmr USING (doc_id)
    ),
    pairs AS (
      SELECT CAST(SUM(CASE WHEN (a.rq - b.rq) * (a.rb - b.rb) > 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN (a.rq - b.rq) * (a.rb - b.rb) < 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS total
      FROM both_r a JOIN both_r b ON a.doc_id < b.doc_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM both_r) AS n_overlap,
           c AS n_concordant, d AS n_discordant,
           CAST(CASE WHEN total > 0 THEN 1000 * (c - d) // total
                ELSE 0 END AS BIGINT) AS tau_milli
    FROM pairs
    """


@query(
    "search_rank_agreement_tau",
    oracle=_build_rank_tau_oracle(),
    tags=("llm", "search", "eval"),
)
def search_rank_agreement_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a (milli) between the BM25 and query-likelihood
    top-15 rankings over their overlap: concordant/discordant pair
    counts (exact integers, ≤ C(15,2) pairs) and the signed agreement.
    Reuses both registered ranking relations verbatim."""
    from pyspark.sql.window import Window


    qlr = search_query_likelihood_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("ql_micro"), F.asc("doc_id")))
        .cast("long")
        .alias("rq"),
    )
    bmr = search_bm25_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25_micro"), F.asc("doc_id")))
        .cast("long")
        .alias("rb"),
    )
    both_r = qlr.join(bmr, "doc_id")
    a, b = both_r.alias("a"), both_r.alias("b")
    prod = (F.col("a.rq") - F.col("b.rq")) * (F.col("a.rb") - F.col("b.rb"))
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).agg(
        F.sum(F.when(prod > 0, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(prod < 0, 1).otherwise(0)).cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("total"),
    )
    n_overlap = both_r.agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap")
    )
    return pairs.crossJoin(F.broadcast(n_overlap)).select(
        "n_overlap",
        F.col("c").alias("n_concordant"),
        F.col("d").alias("n_discordant"),
        F.when(F.col("total") > 0, idiv_col(F.col("c") - F.col("d"), F.col("total"), scale=1000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("tau_milli"),
    )
