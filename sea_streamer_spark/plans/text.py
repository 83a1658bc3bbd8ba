"""Text analysis: token stats, language ID, fingerprints, n-grams, Zipf,
TF-IDF, normalization, typos, HTML and URL extraction, novelty and
corpus growth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import langid as L
from ..operators import text as T
from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .fragments import DUCK_SHINGLE_SETS, TOKS
from .registry import query


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


@query(
    "text_normalize_stats",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS ntext
      FROM documents
    )
    SELECT d.doc_id,
           CAST(length(d.text) AS BIGINT) AS raw_chars,
           CAST(length(n.ntext) AS BIGINT) AS norm_chars,
           md5(n.ntext) AS norm_fp
    FROM documents d JOIN norm n USING (doc_id)
    ORDER BY d.doc_id""",
    tags=("llm", "text"),
)
def text_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (the dedup-key preprocessing step:
    casefold → strip non-alphanumerics → squash whitespace → trim) as pure
    chained JVM regexp projections — zero shuffle, zero Python — with the
    md5 of the normalized form as the canonical fingerprint (what
    normalization-aware exact dedup keys on). Oracle replays the identical
    regex pipeline in DuckDB."""
    t = load_tables(spark, sf_dir, "documents")
    ntext = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    return t.documents.select(
        "doc_id",
        F.length("text").cast("long").alias("raw_chars"),
        F.length(ntext).cast("long").alias("norm_chars"),
        F.md5(ntext).alias("norm_fp"),
    ).orderBy("doc_id")


def _langid_oracle() -> str:
    """DuckDB replay of the Cavnar-Trenkle classifier: identical
    normalization regex, trigram extraction, (count DESC, gram) doc
    ranking, profile literals, out-of-place distance, and first-achiever
    argmin."""
    prof_rows = ",\n      ".join(
        "('" + g.replace("'", "''") + "'," + ",".join(str(r) for r in ranks) + ")"
        for g, *ranks in (list(row) for row in L.profile_rows())
    )
    rank_cols = ", ".join(f"rank_{lang}" for lang in L.LANGS)
    dist_exprs = ",\n             ".join(
        f"CAST(SUM(ABS(rk - COALESCE(rank_{lang}, {L.MISS_PENALTY}))) AS BIGINT)"
        f" AS dist_{lang}"
        for lang in L.LANGS
    )
    least = "LEAST(" + ", ".join(f"dist_{lang}" for lang in L.LANGS) + ")"
    pred_case = (
        "CASE "
        + " ".join(
            f"WHEN dist_{lang} = {least} THEN '{lang}'" for lang in L.LANGS
        )
        + " END"
    )
    zero_dists = ", ".join(f"CAST(0 AS BIGINT) AS dist_{lang}" for lang in L.LANGS)
    return f"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS nrm
      FROM documents
    ), tri AS (
      SELECT doc_id, substr(nrm, CAST(i AS INTEGER), 3) AS gram
      FROM norm, LATERAL unnest(generate_series(1, len(nrm) - 2)) AS t(i)
      WHERE len(nrm) >= 3
    ), cnt AS (
      SELECT doc_id, gram, COUNT(*) AS cnt FROM tri GROUP BY doc_id, gram
    ), dp AS (
      SELECT doc_id, gram, rk FROM (
        SELECT doc_id, gram,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, gram) AS rk
        FROM cnt
      ) WHERE rk <= {L.DOC_K}
    ), prof(gram, {rank_cols}) AS (
      VALUES {prof_rows}
    ), dist AS (
      SELECT dp.doc_id,
             {dist_exprs}
      FROM dp LEFT JOIN prof USING (gram)
      GROUP BY dp.doc_id
    ), scored AS (
      SELECT doc_id, {', '.join('dist_' + lang for lang in L.LANGS)},
             {pred_case} AS pred_lang
      FROM dist
    ), missing AS (
      SELECT doc_id, {zero_dists}, 'unknown' AS pred_lang
      FROM norm WHERE len(nrm) < 3
    )
    SELECT * FROM scored
    UNION ALL
    SELECT * FROM missing
    ORDER BY doc_id
    """


@query("text_lang_id_ngram", oracle=_langid_oracle())
def text_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID (Cavnar-Trenkle rank-distance,
    operators/langid.py): out-of-place distance to each seed-trained
    language profile + first-achiever argmin — upgrade over the
    stopword-marker heuristic `text_lang_id`, all-integer so the driver
    hash checks real predictions. One doc-keyed explode/count/window +
    a broadcast profile join; geometry-bounded everywhere."""
    docs = load_tables(spark, sf_dir, "documents").documents
    return L.lang_id_ngram(docs)


@query(
    "text_typo_pairs",
    oracle="""
    WITH base AS (
      SELECT DISTINCT lower(unnest(string_split_regex(text, '\\s+'))) AS tok
      FROM documents WHERE length(text) > 0
    ), clean AS (
      SELECT tok FROM base WHERE length(tok) >= 4
    ), typos AS (
      -- deterministic injected corruption: drop the middle character of
      -- every token whose fold-parity selects it (both engines replay)
      SELECT DISTINCT
             substr(tok, 1, (length(tok) / 2)::INTEGER - 1)
             || substr(tok, (length(tok) / 2)::INTEGER + 1,
                       length(tok)) AS tok
      FROM clean WHERE length(tok) % 2 = 0
    ), vocab AS (
      SELECT tok FROM clean UNION SELECT tok FROM typos
    ), keys AS (
      SELECT tok, tok AS k FROM vocab
      UNION ALL
      SELECT tok,
             substr(tok, 1, i - 1) || substr(tok, i + 1, length(tok)) AS k
      FROM vocab, LATERAL unnest(generate_series(1, length(tok))) AS t(i)
    ), cand AS (
      SELECT DISTINCT a.tok AS token_a, b.tok AS token_b
      FROM keys a JOIN keys b ON a.k = b.k AND a.tok < b.tok
    )
    SELECT token_a, token_b FROM cand
    WHERE levenshtein(token_a, token_b) = 1
    ORDER BY token_a, token_b""",
    tags=("llm", "text"),
)
def text_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo/spell-variant mining (operators/text.edit1_pairs): the
    SymSpell-style deletion-neighborhood join finds every token pair at
    edit distance exactly 1 without a vocabulary cross product. The clean
    corpus vocabulary contains no such pairs, so — the pii_redaction
    convention — the query deterministically injects middle-character
    deletions for even-length tokens on BOTH engines and mines them back;
    blocking volume scales with vocabulary size, never corpus size."""
    from ..operators.text import edit1_pairs, tokens

    docs = load_tables(spark, sf_dir, "documents").documents
    base = (
        docs.filter(F.length("text") > 0)
        .select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .filter(F.length("tok") >= 4)
        .distinct()
    )
    typos = (
        base.filter(F.length("tok") % 2 == 0)
        .select(
            F.concat(
                F.expr("substring(tok, 1, CAST(length(tok) / 2 AS INT) - 1)"),
                F.expr(
                    "substring(tok, CAST(length(tok) / 2 AS INT) + 1, length(tok))"
                ),
            ).alias("tok")
        )
        .distinct()
    )
    vocab = base.unionByName(typos).distinct()
    return edit1_pairs(vocab, "tok")


# HTML boilerplate extraction

#: Strip order matters and is part of the contract: script/style bodies go
#: before generic tags (their bodies are not text), comments before tags
#: (a comment may contain ``<``), entity decode AFTER tag strip (decoded
#: ``<`` must not re-trigger tag removal), ``&amp;`` decoded LAST (standard
#: ordering — anything else double-decodes ``&amp;lt;``).
_HTML_STRIP: tuple[tuple[str, str], ...] = (
    (r"<script[^>]*>.*?</script>", " "),
    (r"<style[^>]*>.*?</style>", " "),
    (r"<!--.*?-->", " "),
    (r"<[^>]+>", " "),
)


_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def _html_synth_spark(doc_id, text):
    sid = doc_id.cast("string")
    return F.concat(
        F.lit("<html><head><title>Doc "), sid, F.lit("</title>"),
        F.lit('<script type="text/javascript">var d='), sid,
        F.lit("; if (d > 0) { track(d); }</script>"),
        F.lit("<style>.main { color: #fff; }</style></head><body><h1>Doc "),
        sid, F.lit("</h1><!-- synthetic wrapper --><p>"), text,
        F.lit(" &amp; more &lt;escaped&gt; &quot;q&quot; &#39;s&#39;</p>"),
        F.expr(
            "repeat(concat('<a href=\"https://site', CAST(doc_id % 7 AS STRING),"
            " '.example.com/d/', CAST(doc_id AS STRING), '\">ref</a>'),"
            " CAST(doc_id % 4 AS INT))"
        ),
        F.lit("</body></html>"),
    )


_HTML_SYNTH_SQL = """
  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>'
  || '<script type="text/javascript">var d=' || CAST(doc_id AS VARCHAR)
  || '; if (d > 0) { track(d); }</script>'
  || '<style>.main { color: #fff; }</style></head><body><h1>Doc '
  || CAST(doc_id AS VARCHAR) || '</h1><!-- synthetic wrapper --><p>' || text
  || ' &amp; more &lt;escaped&gt; &quot;q&quot; &#39;s&#39;</p>'
  || repeat('<a href="https://site' || CAST(doc_id % 7 AS VARCHAR)
            || '.example.com/d/' || CAST(doc_id AS VARCHAR) || '">ref</a>',
            CAST(doc_id % 4 AS INTEGER))
  || '</body></html>'
"""


def html_extract_text(html):
    """The full strip pipeline as chained JVM projections — zero shuffle,
    zero Python, runs inside whole-stage codegen at any corpus size."""
    c = html
    for pat, repl in _HTML_STRIP:
        c = F.regexp_replace(c, pat, repl)
    for ent, ch in _ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def _html_extract_sql(col: str) -> str:
    c = col
    for pat, repl in _HTML_STRIP:
        c = f"regexp_replace({c}, '{pat}', '{repl}', 'g')"
    for ent, ch in _ENTITIES:
        lit = ch.replace("'", "''")
        c = f"replace({c}, '{ent}', '{lit}')"
    return f"trim(regexp_replace({c}, '\\s+', ' ', 'g'))"


@query(
    "text_html_extract",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {_HTML_SYNTH_SQL} AS html FROM documents
    ), c AS (
      SELECT doc_id, html, {_html_extract_sql("html")} AS clean FROM h
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(html, '<a href=')) AS BIGINT) AS n_links,
           CAST(length(clean) AS BIGINT) AS clean_len,
           CAST((length(html) - length(clean)) * 1000 // length(html)
                AS BIGINT) AS markup_permille,
           md5(clean) AS clean_fp
    FROM c
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate extraction (the trafilatura/WET step of a web-corpus
    pipeline): script/style/comment bodies removed, tags stripped, the five
    standard entities decoded, whitespace squashed — all as chained JVM
    regexp/replace projections (zero shuffle at any scale). The corpus is
    plain text, so the query wraps every doc in a deterministic HTML shell
    (title/script/style/headline/entities/doc_id%4 links) identically on
    both engines; the driver hash then checks the extracted text, its
    length, the link count, and the markup-overhead ratio byte-for-byte."""
    docs = load_tables(spark, sf_dir, "documents").documents
    h = docs.select(
        "doc_id",
        _html_synth_spark(F.col("doc_id"), F.col("text")).alias("html"),
    )
    c = h.select("doc_id", "html", html_extract_text(F.col("html")).alias("clean"))
    return c.select(
        "doc_id",
        F.size(F.regexp_extract_all("html", F.lit("<a href="), F.lit(0)))
        .cast("long")
        .alias("n_links"),
        F.length("clean").cast("long").alias("clean_len"),
        F.expr("(length(html) - length(clean)) * 1000 div length(html)")
        .cast("long")
        .alias("markup_permille"),
        F.md5(F.col("clean")).alias("clean_fp"),
    ).orderBy("doc_id")


_URL_SYNTH_SQL = """
  (CASE WHEN doc_id % 10 < 8 THEN 'https' ELSE 'HTTP' END)
  || '://'
  || (CASE doc_id % 3
        WHEN 0 THEN 'Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM'
        WHEN 1 THEN 'cdn.site' || CAST(doc_id % 5 AS VARCHAR) || '.example.CO.UK'
        ELSE 'www.archive' || CAST(doc_id % 4 AS VARCHAR) || '.ORG' END)
  || (CASE WHEN doc_id % 5 = 0
        THEN (CASE WHEN doc_id % 10 < 8 THEN ':443' ELSE ':80' END)
        ELSE '' END)
  || '/p/' || CAST(doc_id % 13 AS VARCHAR) || '/item'
  || (CASE WHEN doc_id % 2 = 0
        THEN '?utm_source=feed&id=' || CAST(doc_id % 11 AS VARCHAR)
             || '&utm_campaign=x'
        WHEN doc_id % 7 = 0 THEN '?utm_medium=email'
        ELSE '' END)
  || (CASE WHEN doc_id % 4 = 1 THEN '#sec2' ELSE '' END)
"""


def _url_synth_spark(doc_id):
    return F.expr(
        _URL_SYNTH_SQL.replace("AS VARCHAR", "AS STRING")
    )


@query(
    "web_url_stats",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, {_URL_SYNTH_SQL} AS url FROM documents
    ), p AS (
      SELECT doc_id,
             lower(CASE WHEN doc_id % 10 < 8 THEN 'https' ELSE 'HTTP' END)
               AS scheme,
             lower(regexp_replace(
               regexp_extract(regexp_replace(url, '#.*$', ''),
                              '^[a-zA-Z]+://([^/]+)', 1),
               ':[0-9]+$', '')) AS host,
             regexp_extract(regexp_extract(regexp_replace(url, '#.*$', ''),
                              '^[a-zA-Z]+://([^/]+)', 1),
                            ':([0-9]+)$', 1) AS port,
             regexp_extract(regexp_replace(url, '#.*$', ''),
                            '^[a-zA-Z]+://[^/]+(/[^?]*)', 1) AS path,
             regexp_extract(regexp_replace(url, '#.*$', ''),
                            '\\?(.*)$', 1) AS qs
      FROM u
    ), n AS (
      SELECT doc_id, scheme, host, path,
             CASE WHEN port = '' THEN ''
                  WHEN scheme = 'https' AND port = '443' THEN ''
                  WHEN scheme = 'http' AND port = '80' THEN ''
                  ELSE ':' || port END AS port_norm,
             CASE WHEN qs = '' THEN ''
                  WHEN regexp_replace('&' || qs, '&utm_[^&]*', '', 'g') = ''
                  THEN ''
                  ELSE '?' || substr(
                       regexp_replace('&' || qs, '&utm_[^&]*', '', 'g'), 2)
             END AS q_norm,
             CASE WHEN host LIKE '%.co.uk'
                    THEN regexp_extract(host, '([^.]+\\.co\\.uk)$', 1)
                  WHEN host LIKE '%.com.au'
                    THEN regexp_extract(host, '([^.]+\\.com\\.au)$', 1)
                  ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1) END AS domain
      FROM p
    ), f AS (
      SELECT doc_id, domain,
             scheme || '://' || host || port_norm || path || q_norm AS norm_url
      FROM n
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT norm_url) AS BIGINT) AS n_unique_urls,
           CAST(SUM(CASE WHEN norm_url LIKE '%?%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_params,
           MIN(norm_url) AS sample_url
    FROM f
    GROUP BY domain
    ORDER BY domain
    """,
    tags=("llm", "text"),
)
def web_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL normalization + registrable-domain rollup (the crawl-frontier /
    per-domain-quota step of a web pipeline): fragment dropped, scheme and
    host lowercased, default ports stripped (``:443`` https / ``:80``
    http), ``utm_*`` tracking params removed (query-string surgery without
    replacement backrefs — Spark uses ``$1`` where RE2 uses ``\\1``, so the
    shared pipeline prepends ``&`` and strips it after), registrable domain
    extracted with a two-level-suffix-aware rule (``co.uk``/``com.au``).
    URLs are synthesized deterministically from doc_id on both engines;
    one domain-keyed shuffle, everything before it map-side."""
    docs = load_tables(spark, sf_dir, "documents").documents
    u = docs.select("doc_id", _url_synth_spark(F.col("doc_id")).alias("url"))
    defrag = F.regexp_replace(F.col("url"), r"#.*$", "")
    host_port = F.regexp_extract(defrag, r"^[a-zA-Z]+://([^/]+)", 1)
    p = u.select(
        "doc_id",
        F.lower(
            F.when(F.col("doc_id") % 10 < 8, F.lit("https")).otherwise("HTTP")
        ).alias("scheme"),
        F.lower(F.regexp_replace(host_port, r":[0-9]+$", "")).alias("host"),
        F.regexp_extract(host_port, r":([0-9]+)$", 1).alias("port"),
        F.regexp_extract(defrag, r"^[a-zA-Z]+://[^/]+(/[^?]*)", 1).alias("path"),
        F.regexp_extract(defrag, r"\?(.*)$", 1).alias("qs"),
    )
    stripped = F.regexp_replace(F.concat(F.lit("&"), F.col("qs")), r"&utm_[^&]*", "")
    n = p.select(
        "doc_id",
        "scheme",
        "host",
        "path",
        F.when(F.col("port") == "", F.lit(""))
        .when((F.col("scheme") == "https") & (F.col("port") == "443"), F.lit(""))
        .when((F.col("scheme") == "http") & (F.col("port") == "80"), F.lit(""))
        .otherwise(F.concat(F.lit(":"), F.col("port")))
        .alias("port_norm"),
        F.when(F.col("qs") == "", F.lit(""))
        .when(stripped == "", F.lit(""))
        .otherwise(F.concat(F.lit("?"), F.substring(stripped, 2, 1 << 30)))
        .alias("q_norm"),
        F.when(
            F.col("host").endswith(".co.uk"),
            F.regexp_extract(F.col("host"), r"([^.]+\.co\.uk)$", 1),
        )
        .when(
            F.col("host").endswith(".com.au"),
            F.regexp_extract(F.col("host"), r"([^.]+\.com\.au)$", 1),
        )
        .otherwise(F.regexp_extract(F.col("host"), r"([^.]+\.[^.]+)$", 1))
        .alias("domain"),
    )
    f = n.select(
        "doc_id",
        "domain",
        F.concat(
            F.col("scheme"), F.lit("://"), F.col("host"), F.col("port_norm"),
            F.col("path"), F.col("q_norm"),
        ).alias("norm_url"),
    )
    return (
        f.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.countDistinct("norm_url").cast("long").alias("n_unique_urls"),
            F.sum(F.when(F.col("norm_url").contains("?"), 1).otherwise(0))
            .cast("long")
            .alias("n_with_params"),
            F.min("norm_url").alias("sample_url"),
        )
        .orderBy("domain")
    )


# Token co-occurrence association mining (integer lift)
_LIFT_MIN_CO = 5


_LIFT_TOPK = 50


@query(
    "text_token_lift",
    oracle=f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, tk FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tk
        FROM documents
      ) WHERE len(tk) > 0
    ), n AS (
      SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM dt
    ), df AS (
      SELECT tk, CAST(COUNT(*) AS BIGINT) AS c FROM dt GROUP BY tk
    ), co AS (
      SELECT a.tk AS t1, b.tk AS t2, CAST(COUNT(*) AS BIGINT) AS co
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tk < b.tk
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_LIFT_MIN_CO}
    )
    SELECT t1, t2, co,
           CAST(co * n.n_docs * 1000 // (d1.c * d2.c) AS BIGINT) AS lift_milli
    FROM co
    JOIN df d1 ON d1.tk = co.t1
    JOIN df d2 ON d2.tk = co.t2
    CROSS JOIN n
    ORDER BY lift_milli DESC, t1, t2
    LIMIT {_LIFT_TOPK}
    """,
    tags=("llm", "text"),
)
def text_token_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence association mining — market-basket lift
    ``P(a,b)/(P(a)·P(b))`` as the exact integer ``co·N·1000 div
    (df_a·df_b)`` (the log-free PMI stand-in, so the ranking is
    engine-exact). Plan: distinct (doc, token) relation → ONE doc-keyed
    self-join bounded by per-doc distinct-token counts (with the support
    floor pruning the pair tail — the apriori trick), document
    frequencies from the same relation, broadcastable N. Top-k by lift
    with a total tie-break."""
    docs = load_tables(spark, sf_dir, "documents").documents
    # localCheckpoint, not cache(): the relation is consumed four times
    # (eager N, document frequencies, both self-join sides), but a cache()
    # here would pin storage for the whole session — the returned plan is
    # lazy, so there is no safe unpersist point (r3 ADVICE #3). Checkpoint
    # blocks are released by the ContextCleaner once the query's RDDs are
    # GC'd; the scale caveat (no lineage to recompute a lost executor's
    # blocks) is acceptable for a top-k report query.
    dt = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.split("text", r"\s+"), lambda t: F.length(t) > 0
                    )
                )
            ).alias("tk"),
        )
        .distinct()
        .localCheckpoint()
    )
    n_docs = dt.select("doc_id").distinct().count()
    df_rel = dt.groupBy("tk").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = dt.alias("a")
    b = dt.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tk") < F.col("b.tk")),
        )
        .groupBy(F.col("a.tk").alias("t1"), F.col("b.tk").alias("t2"))
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
        .filter(F.col("co") >= _LIFT_MIN_CO)
    )
    d1 = df_rel.select(F.col("tk").alias("t1"), F.col("c").alias("c1"))
    d2 = df_rel.select(F.col("tk").alias("t2"), F.col("c").alias("c2"))
    out = (
        co.join(F.broadcast(d1), "t1")
        .join(F.broadcast(d2), "t2")
        .select(
            "t1",
            "t2",
            "co",
            F.expr(f"co * {n_docs}L * 1000 div (c1 * c2)")
            .cast("long")
            .alias("lift_milli"),
        )
        .orderBy(F.col("lift_milli").desc(), "t1", "t2")
        .limit(_LIFT_TOPK)
    )
    return out


# Corpus novelty + vocabulary growth curve
@query(
    "text_novelty_score",
    oracle="""
    WITH pos AS (
      SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
      FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS tk
            FROM documents)
      WHERE len(tk) >= 3
    ), sh AS (
      SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
      FROM pos
    ), firsts AS (
      SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh
    ), per_doc AS (
      SELECT s.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM sh s JOIN firsts f USING (sh)
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_shingles, n_novel,
           CAST(n_novel * 1000 // n_shingles AS BIGINT) AS novelty_permille
    FROM per_doc
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's 3-grams whose FIRST
    corpus occurrence (by doc order) is in this doc — the
    curriculum/ordering signal that separates fresh material from
    recombinations of earlier text (the streaming-ingest complement of
    duplicated-span coverage: coverage asks "is it repeated anywhere",
    novelty asks "who said it first"). Plan: positional shingles →
    shingle-keyed MIN(doc_id) → same-key join back → doc-keyed counts;
    shuffle volume scales with shingle volume, never docs². Integer
    permille — engine-exact."""
    docs = load_tables(spark, sf_dir, "documents").documents
    from ..operators.dedup import positional_shingles

    sh = positional_shingles(docs).select("doc_id", "sh")
    firsts = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.expr("n_novel * 1000 div n_shingles").cast("long").alias(
            "novelty_permille"
        ),
    ).orderBy("doc_id")


_GROWTH_CUTS = (50, 100, 200, 400, 800, 1600, 3200, 6400)


@query(
    "corpus_growth_curve",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, tk FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tk
        FROM documents
      ) WHERE len(tk) > 0
    ), firsts AS (
      SELECT tk, MIN(doc_id) AS first_doc FROM tok GROUP BY tk
    ), cuts AS (
      SELECT unnest([{", ".join(str(c) for c in _GROWTH_CUTS)}]) AS cut
    )
    SELECT CAST(c.cut AS BIGINT) AS cut,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tok WHERE doc_id < c.cut)
             AS n_tokens,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts
             WHERE first_doc < c.cut) AS n_vocab
    FROM cuts c
    ORDER BY c.cut
    """,
    tags=("llm", "text"),
)
def corpus_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (the Heaps'-law measurement behind
    tokenizer-vocab and dedup-rate planning): cumulative token count and
    DISTINCT-vocabulary size at doc-count checkpoints. Computed WITHOUT
    re-scanning per checkpoint: one token-keyed MIN(first_doc) aggregate
    turns every cumulative-distinct question into a threshold count — the
    same single-pass trick the novelty score uses. Conditional sums over
    two bounded relations; checkpoints beyond the corpus report the full
    corpus (curve flattens, correctly)."""
    docs = load_tables(spark, sf_dir, "documents").documents
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", r"\s+"), lambda t: F.length(t) > 0)
        ).alias("tk"),
    )
    firsts = tok.groupBy("tk").agg(F.min("doc_id").alias("first_doc"))
    tok_counts = tok.agg(
        *[
            F.sum((F.col("doc_id") < c).cast("long")).cast("long").alias(f"t{c}")
            for c in _GROWTH_CUTS
        ]
    )
    vocab_counts = firsts.agg(
        *[
            F.sum((F.col("first_doc") < c).cast("long"))
            .cast("long")
            .alias(f"v{c}")
            for c in _GROWTH_CUTS
        ]
    )
    row = tok_counts.crossJoin(vocab_counts)
    cuts = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).cast("long").alias("cut"),
                        F.col(f"t{c}").alias("n_tokens"),
                        F.col(f"v{c}").alias("n_vocab"),
                    )
                    for c in _GROWTH_CUTS
                ]
            )
        ).alias("r")
    ).select("r.*")
    return cuts.orderBy("cut")


@query(
    "profile_length_by_lang",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS mean_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "profile", "text"),
)
def profile_length_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length profile per language — the first table a corpus
    report prints (length distributions differ wildly by language and
    drive per-lang quality thresholds). Integer mean via floor division;
    one lang-keyed partial-agg shuffle, ≤ |langs| × partitions exchange
    rows."""
    t = load_tables(spark, sf_dir, "documents")
    return (
        t.documents.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            (F.sum("n_chars") / F.count(F.lit(1)))
            .cast("long")
            .alias("mean_chars"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .orderBy("lang")
    )


_VOCAB_TOPN = 100


@query(
    "text_vocab_coverage_topn",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id, source, unnest(string_split_regex(text, '\\s+')) AS tok
      FROM documents
    ), top AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS n FROM occ GROUP BY tok
        ORDER BY n DESC, tok LIMIT {_VOCAB_TOPN}
      )
    ), per_src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN t.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS covered_tokens
      FROM occ o LEFT JOIN top t ON t.tok = o.tok
      GROUP BY source
    )
    SELECT source, total_tokens, covered_tokens,
           CAST(FLOOR(1000.0 * covered_tokens / total_tokens) AS BIGINT)
             AS coverage_permille
    FROM per_src ORDER BY source
    """,
    tags=("llm", "text"),
)
def text_vocab_coverage_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-vocabulary coverage per source: what fraction of token
    occurrences the corpus-wide top-100 tokens account for — the Zipf
    head/tail balance read before sizing a tokenizer vocab or diagnosing
    why one source compresses worse (low coverage = heavy tail = more
    OOV/byte fallback). Deterministic head cut: (count DESC, token ASC).

    Plan: one token-keyed count (map-side partials) → top-100 via
    TakeOrdered (per-partition heaps, no global sort) → broadcast the
    100-row head back over the (source, token) occurrence counts — the
    big relations are only ever keyed by token or source. Permille fixed
    point."""
    from pyspark.sql import functions as F

    docs = load_tables(spark, sf_dir, "documents").documents
    occ = docs.select(
        "source", F.explode(F.split("text", r"\s+")).alias("tok")
    )
    # (source, tok) pre-aggregate: one shuffle carries distinct pairs,
    # not raw occurrences; both downstream sums derive from it.
    st = occ.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    top = (
        st.groupBy("tok")
        .agg(F.sum("n").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(_VOCAB_TOPN)
        .select("tok")
    )
    per_src = (
        st.join(F.broadcast(top.withColumn("_hit", F.lit(1))), "tok", "left")
        .groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("_hit") == 1, F.col("n")).otherwise(F.lit(0)))
            .cast("long")
            .alias("covered_tokens"),
        )
    )
    return per_src.select(
        "source",
        "total_tokens",
        "covered_tokens",
        F.floor(F.lit(1000.0) * F.col("covered_tokens") / F.col("total_tokens"))
        .cast("long")
        .alias("coverage_permille"),
    ).orderBy("source")


# Lexical concentration per source: Yule's characteristic K (Yule, "The
# Statistical Study of Literary Vocabulary", 1944) and Simpson's
# repeat-rate D (Simpson, Nature 1949) — the two classic
# length-robust vocabulary-concentration statistics, both EXACT
# integer-expressible from the type-frequency spectrum: with N tokens
# and per-type counts n_w, S2 = Σ n_w²,
#     K = 10^4 · (S2 − N) / N²          (reported milli-scaled)
#     D = Σ n_w(n_w − 1) / (N(N − 1))   (reported micro-scaled)
# Complements STTR (chunked type ratio) and the Good-Turing spectrum:
# K/D measure how much probability mass repeats concentrate, and a
# corpus whose K jumps source-over-source is boilerplate-heavy. N² and
# N(N−1) ride DECIMAL(38,0)/HUGEINT (production token counts square
# past 2^63 by construction).
@query(
    "text_lexical_concentration",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split_regex(text, '\\s+'),
                                w -> len(w) > 0)) AS w
      FROM documents
    ),
    types AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n_w
      FROM toks GROUP BY source, w
    ),
    per AS (
      SELECT source,
             CAST(SUM(n_w) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(CAST(n_w AS HUGEINT) * n_w) AS HUGEINT) AS s2,
             CAST(SUM(CAST(n_w AS HUGEINT) * (n_w - 1)) AS HUGEINT) AS rep
      FROM types GROUP BY source
    )
    SELECT source, n_tokens, n_types,
           CAST(10000000 * (s2 - n_tokens)
                // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
             AS yule_k_milli,
           CAST(1000000 * rep
                // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT)
             AS simpson_micro
    FROM per ORDER BY source
    """,
    tags=("llm", "text"),
)
def text_lexical_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Yule's K (milli) and Simpson's repeat-rate (micro) per source —
    exact integers end-to-end: one token explode, one (source, type)
    rollup, one source rollup; squares and the N²/N(N−1) denominators
    in DECIMAL(38,0)."""

    docs = load_tables(spark, sf_dir, "documents").documents
    toks = docs.select(
        "source",
        F.explode(F.split(F.col("text"), r"\s+")).alias("w"),
    ).filter(F.length("w") > 0)
    types = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("n_w")
    )
    per = types.groupBy("source").agg(
        F.sum("n_w").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("n_w").cast("decimal(38,0)") * F.col("n_w"))
        .cast("decimal(38,0)")
        .alias("s2"),
        F.sum(F.col("n_w").cast("decimal(38,0)") * (F.col("n_w") - 1))
        .cast("decimal(38,0)")
        .alias("rep"),
    )
    n_dec = F.col("n_tokens").cast("decimal(38,0)")
    return per.select(
        "source",
        "n_tokens",
        "n_types",
        idiv_col(
            F.col("s2") - F.col("n_tokens"),
            n_dec * F.col("n_tokens"),
            scale=10_000_000,
        ).alias("yule_k_milli"),
        idiv_col(
            F.col("rep"),
            n_dec * (F.col("n_tokens") - 1),
            scale=1_000_000,
        ).alias("simpson_micro"),
    ).orderBy("source")
