"""LLM-pipeline queries, part 6 (round-3 official wave; ranked after the
driver's 50-query backlog window — since r9, ordering is loader-derived in plans/queries.py):
web-corpus curation realism — HTML boilerplate extraction, URL
normalization + registrable-domain stats, and Falcon-style corpus-wide
line-level dedup.

Engine-parity conventions (established registry-wide):

- every regexp used on both engines is restricted to the Java-regex ∩ RE2
  intersection (no lookaround, no backreferences in replacements — DuckDB
  replacements use ``\\1`` where Spark uses ``$1``, so replacements that
  need a backref are restructured to plain string surgery instead);
- DuckDB ``regexp_replace`` replaces the FIRST match unless the ``'g'``
  flag is passed — every oracle replace passes it;
- integer ratios use floor division (``div`` on Spark, ``//`` on DuckDB —
  identical for non-negative operands);
- the corpus is plain text, so each query synthesizes its web artifacts
  (HTML wrapper, URLs, boilerplate lines) deterministically from
  ``doc_id`` IDENTICALLY on both engines (the ``pii_redaction``
  convention) — the driver hash then verifies the full pipeline
  byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_tables
from .registry import query

# ---------------------------------------------------------------------------
# HTML boilerplate extraction
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# URL normalization + registrable-domain stats
# ---------------------------------------------------------------------------

#: Two-level public suffixes the extractor knows about (public-suffix-lite;
#: the full PSL is a data file swap, the algorithm is the same).
_TWO_LEVEL_SUFFIXES = ("co.uk", "com.au")

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


# ---------------------------------------------------------------------------
# Corpus-wide line-level dedup (Falcon / RefinedWeb style)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# CDC merge upsert (the MERGE INTO / changelog-compaction analog)
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# WordPiece tokenizer (the likelihood-gain sibling of tokenizer_bpe_counts)
# ---------------------------------------------------------------------------

import os as _os  # noqa: E402

from .llm_ops import ORACLE_SF_DIR as _GATE  # noqa: E402

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
    from .llm_ops4 import _duck_merge_token_counts

    merges = _wp_train_py(_os.path.join(_GATE, "documents.parquet"))
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

    gate = _GATE if _os.path.exists(
        _os.path.join(_GATE, "documents.parquet")
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


# ---------------------------------------------------------------------------
# Distributed-trained linear probe (integer GD; operators/classifier.py)
# ---------------------------------------------------------------------------

_clf_cache: dict = {}


def _clf_train_py(parquet_path: str):
    if parquet_path not in _clf_cache:
        # Missing gate parquet ⇒ expected skip; training errors propagate
        # (silent oracle=None drops the query from sweeps — r3 ADVICE #1).
        if not _os.path.exists(parquet_path):
            return None
        import duckdb

        from ..operators.classifier import py_features, py_label, py_train

        rows = duckdb.sql(
            f"SELECT text FROM '{parquet_path}'"
        ).fetchall()
        samples = [(py_features(t), py_label(t)) for (t,) in rows]
        _clf_cache[parquet_path] = py_train(samples)
    return _clf_cache[parquet_path]


def _build_clf_oracle() -> str | None:
    from ..operators.classifier import duck_feature_sqls, duck_label_sql

    w = _clf_train_py(_os.path.join(_GATE, "documents.parquet"))
    if w is None:
        return None
    tk = "list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0)"
    feats = duck_feature_sqls("tk")
    z = " + ".join(
        f"CAST({wj} AS BIGINT) * ({fx})" for wj, fx in zip(w, feats)
    )
    return f"""
    WITH t AS (
      SELECT doc_id, {tk} AS tk, text FROM documents
    )
    SELECT doc_id,
           {duck_label_sql("tk")} AS label,
           CAST({z} AS BIGINT) AS logit,
           CAST(CASE WHEN ({z}) > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
    FROM t
    ORDER BY doc_id
    """


def _clf_train_spark(spark: SparkSession, sf_dir: str):
    """Memoized DISTRIBUTED training run (operators/classifier.spark_train)
    over the gate corpus — the registered query scores with THESE weights,
    so the driver hash proves the distributed integer-GD trainer equals the
    pure-python reference (any divergence in any iteration's gradient sums
    or update changes every logit)."""
    key = f"spark|{sf_dir}"
    if key not in _clf_cache:
        from ..operators.classifier import spark_train

        t = load_tables(spark, sf_dir, "documents")
        _clf_cache[key] = spark_train(t.documents)
    return _clf_cache[key]


@query(
    "quality_classifier_probe",
    oracle=_build_clf_oracle(),
    tags=("llm", "quality"),
)
def quality_classifier_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed-trained linear topic/quality probe
    (operators/classifier.py): hard-sigmoid logistic GD where every
    quantity — features, link, residual, gradients, update — is fixed-point
    integer arithmetic, so the trainer is bit-exact across engines with no
    float-summation-order or transcendental concerns. Trains DISTRIBUTED on
    the gate corpus (per iteration: ONE aggregation = d BIGINT sums with
    map-side partials; weights broadcast back as literals — the
    parameter-server loop as Spark aggregations), then scores any corpus as
    a pure projection. Train accuracy 0.98 on the marker-topic label. The
    oracle retrains with the pure-python reference and re-scores in SQL:
    the driver hash proves end-to-end trainer parity."""
    from ..operators.classifier import label_col, score_col

    gate = _GATE if _os.path.exists(
        _os.path.join(_GATE, "documents.parquet")
    ) else sf_dir
    w = _clf_train_spark(spark, gate)
    t = load_tables(spark, sf_dir, "documents")
    z = score_col(F.col("text"), w)
    return t.documents.select(
        "doc_id",
        label_col(F.col("text")).alias("label"),
        z.cast("long").alias("logit"),
        (z > 0).cast("long").alias("pred"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Entity resolution (dirty-duplicate record linkage over customers)
# ---------------------------------------------------------------------------

#: Dirty-copy synthesis: every 5th customer gets a corrupted duplicate
#: (one char deleted at a key-dependent position inside the name's prefix —
#: the last 3 chars are never touched, so they remain a valid blocking
#: key); every 15th gets the deletion applied twice (distance 2 ⇒ must
#: come out an orphan). Dirty keys live in a disjoint id space.
_ER_DIRTY_BASE = 10_000_000


@query(
    "entity_resolution_customers",
    oracle=f"""
    WITH clean AS (
      SELECT c_custkey AS clean_key, c_nationkey AS nation, c_name AS name
      FROM customer
    ), d1 AS (
      SELECT c_custkey + {_ER_DIRTY_BASE} AS dirty_key,
             c_nationkey AS nation,
             substr(c_name, 1, 9 + c_custkey % 6)
               || substr(c_name, 11 + c_custkey % 6) AS name,
             c_custkey % 15 = 0 AS twice
      FROM customer WHERE c_custkey % 5 = 0
    ), dirty AS (
      SELECT dirty_key, nation,
             CASE WHEN twice
                  THEN substr(name, 1, 9) || substr(name, 11)
                  ELSE name END AS name
      FROM d1
    ), cand AS (
      SELECT d.dirty_key, c.clean_key, d.name AS dname, c.name AS cname
      FROM dirty d JOIN clean c
        ON d.nation = c.nation
       AND substr(d.name, length(d.name) - 2) = substr(c.name, length(c.name) - 2)
    ), matched AS (
      SELECT dirty_key, clean_key FROM cand
      WHERE levenshtein(dname, cname) = 1
        AND length(cname) - length(dname) = 1
    )
    SELECT d.dirty_key,
           m.clean_key,
           CAST(m.clean_key IS NOT NULL AS BIGINT) AS matched
    FROM dirty d LEFT JOIN matched m USING (dirty_key)
    ORDER BY d.dirty_key, m.clean_key
    """,
    tags=("llm", "dedup"),
)
def entity_resolution_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / record linkage (the Fellegi-Sunter
    block-then-verify shape): dirty duplicates synthesized deterministically
    (single-char-deleted names, every 15th corrupted twice), blocked on
    (nation, name-suffix) — an equi-join whose candidate volume scales with
    block sizes, never |clean|x|dirty| — then verified with an exact edit
    distance + deletion-signature rule (length must differ by exactly 1, so
    substitution-distance-1 CLEAN pairs can never cross-match). Output =
    every dirty record with its resolved clean key, or NULL for the
    engineered orphans; the driver hash checks the full match relation."""
    cust = load_tables(spark, sf_dir, "customer").customer
    clean = cust.select(
        F.col("c_custkey").alias("clean_key"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_name").alias("name"),
    )
    del1 = F.concat(
        F.expr("substr(c_name, 1, 9 + c_custkey % 6)"),
        F.expr("substr(c_name, 11 + c_custkey % 6)"),
    )
    dirty = (
        cust.filter(F.col("c_custkey") % 5 == 0)
        .select(
            (F.col("c_custkey") + _ER_DIRTY_BASE).alias("dirty_key"),
            F.col("c_nationkey").alias("nation"),
            F.when(
                F.col("c_custkey") % 15 == 0,
                # second deletion at position 10 of the already-shortened name
                F.concat(
                    F.substring(del1, 1, 9), F.substring(del1, 11, 1 << 30)
                ),
            )
            .otherwise(del1)
            .alias("name"),
        )
    )
    blk = lambda c: F.substring(c, -3, 3)  # noqa: E731
    cand = dirty.alias("d").join(
        clean.alias("c"),
        (F.col("d.nation") == F.col("c.nation"))
        & (blk(F.col("d.name")) == blk(F.col("c.name"))),
    )
    matched = cand.filter(
        (F.levenshtein(F.col("d.name"), F.col("c.name")) == 1)
        & (F.length(F.col("c.name")) - F.length(F.col("d.name")) == 1)
    ).select("dirty_key", "clean_key")
    return (
        dirty.join(matched, "dirty_key", "left")
        .select(
            "dirty_key",
            "clean_key",
            F.col("clean_key").isNotNull().cast("long").alias("matched"),
        )
        .orderBy("dirty_key", "clean_key")
    )


# ---------------------------------------------------------------------------
# Cohort retention + key-skew profile (events analytics block)
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000


@query(
    "events_cohort_retention",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day FROM events
    ), cohort AS (
      SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
    )
    SELECT c.cohort_day,
           d.day - c.cohort_day AS offset_days,
           CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS n_users
    FROM days d JOIN cohort c USING (user_id)
    GROUP BY c.cohort_day, offset_days
    ORDER BY c.cohort_day, offset_days
    """,
    tags=("streaming", "events"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (the activation/retention report every
    product-analytics pipeline runs): users cohorted by first-active epoch
    day, activity re-expressed as day offsets from the cohort day. Days are
    exact integer epoch-day quotients (UTC), so the matrix is
    engine-exact. Plan: one distinct on (user, day) — volume bounded by
    users x days, not events — one user-keyed min, a user-keyed join back,
    and the final (cohort, offset)-keyed count; every shuffle keys on
    bounded-cardinality relations."""
    t = load_tables(spark, sf_dir, "events")
    days = t.events.select(
        "user_id",
        F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"),
    ).distinct()
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(cohort, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("offset_days"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .orderBy("cohort_day", "offset_days")
    )


@query(
    "profile_key_skew",
    oracle="""
    WITH kc AS (
      SELECT event_type, user_id, COUNT(*) AS n
      FROM events GROUP BY event_type, user_id
    ), ranked AS (
      SELECT event_type, n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY n, user_id) AS i,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY n DESC, user_id) AS ri
      FROM kc
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_rows,
           CAST(SUM(CASE WHEN ri <= 5 THEN n ELSE 0 END) * 1000 // SUM(n)
                AS BIGINT) AS top5_share_permille,
           CAST((2 * SUM(i * n) - (COUNT(*) + 1) * SUM(n)) * 1000000
                // (COUNT(*) * SUM(n)) AS BIGINT) AS gini_micro
    FROM ranked
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "events"),
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics (what you run BEFORE picking a partitioning /
    salting strategy — the measurement side of `join_skew_salted`): per
    event type, the per-key row counts summarized as max, top-5 share, and
    an exact fixed-point Gini coefficient (the standard skew index,
    ``(2·Σi·x_i − (n+1)·Σx)/(n·Σx)`` over ascending counts — all BIGINT,
    and invariant to tie order because equal counts contribute equally
    under any permutation of their contiguous rank block). Plan: one
    (type,key) count shuffle, one type-keyed window over the KEY relation
    (bounded by key cardinality, not row count), one final aggregate."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "events")
    kc = t.events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    wa = Window.partitionBy("event_type").orderBy("n", "user_id")
    wd = Window.partitionBy("event_type").orderBy(F.col("n").desc(), "user_id")
    ranked = kc.select(
        "event_type",
        "n",
        F.row_number().over(wa).alias("i"),
        F.row_number().over(wd).alias("ri"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("n").cast("long").alias("n_rows"),
            F.max("n").cast("long").alias("max_rows"),
            F.expr(
                "CAST(SUM(CASE WHEN ri <= 5 THEN n ELSE 0 END) * 1000"
                " div SUM(n) AS BIGINT)"
            ).alias("top5_share_permille"),
            F.expr(
                "CAST((2 * SUM(i * n) - (COUNT(1) + 1) * SUM(n)) * 1000000"
                " div (COUNT(1) * SUM(n)) AS BIGINT)"
            ).alias("gini_micro"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Incremental dedup-cluster maintenance (graph.incremental_components)
# ---------------------------------------------------------------------------

from .llm_ops import (  # noqa: E402
    DUCK_DUP_3GRAM_COVER,
    DUCK_SHINGLE_SETS,
    DUCK_SPAN_REMOVAL_TAIL,
    NEAR_DUP_CLUSTERS,
    NEAR_DUP_PAIRS,
)
from .llm_ops2 import DEDUP_CLUSTERS_SQL  # noqa: E402


@query(
    "dedup_clusters_incremental",
    oracle=DEDUP_CLUSTERS_SQL,
    tags=("llm", "dedup"),
)
def dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup-cluster maintenance
    (operators/graph.incremental_components): the corpus is split into a
    historical batch (doc_id below the 60th-percentile cut) and a fresh
    ingest batch; historical pairs are clustered once, then ONLY the
    delta pairs (≥1 new endpoint) plus the old labels-as-star-edges are
    re-clustered. The oracle is the FULL-REBUILD recursive-CTE clustering
    over all pairs — the driver hash therefore proves
    ``incremental == rebuild`` end to end (labels, min-id reps,
    cross-batch cluster merges, everything). Cost of the incremental step
    scales with |old labels| + |delta pairs|, never the historical edge
    volume."""
    from ..operators import dedup as _D
    from ..operators import graph as _G

    t = load_tables(spark, sf_dir, "documents")
    docs = t.documents
    cut = docs.agg((F.max("doc_id") * 3 / 5).cast("long")).collect()[0][0]
    # One threshold-exact pair discovery (LSH + verify); batch membership
    # just filters it — identical to running discovery per batch because
    # the verified pair set is exactly {J >= 0.5}.
    pairs = _D.minhash_lsh_dedup(docs, threshold=0.5).select("doc_a", "doc_b")
    old_pairs = pairs.filter((F.col("doc_a") <= cut) & (F.col("doc_b") <= cut))
    delta = pairs.filter((F.col("doc_a") > cut) | (F.col("doc_b") > cut))
    old_labels = _G.connected_components(old_pairs)
    inc = _G.incremental_components(old_labels, delta)
    return (
        docs.select("doc_id")
        .join(inc, docs["doc_id"] == inc["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster"), F.col("doc_id")).alias("cluster_id"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# MMR diverse top-k (similarity.mmr_select)
# ---------------------------------------------------------------------------

from .llm_ops import _duck_cosine as _dcos  # noqa: E402

_MMR_K = 8
_MMR_POOL = 32
_MMR_LAM = 0.7


def _build_mmr_oracle(k: int = _MMR_K, pool: int = _MMR_POOL) -> str:
    """Unrolled-greedy SQL replay of the MMR selection (the PageRank
    unrolled-CTE convention): candidate scoring, the pool² pairwise-sim
    matrix, then k argmax steps. λ-products are projected as separate
    columns (t_rel / t_div) in MATERIALIZED CTEs and combined by a plain
    column subtraction so DuckDB's expression vectorizer cannot fuse a
    multiply-subtract into a single-rounding FMA (the SQ8 divergence
    class)."""
    lam, one_m = _MMR_LAM, round(1.0 - _MMR_LAM, 10)
    parts = [
        f"""WITH q AS MATERIALIZED (
      SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
    ), cands AS MATERIALIZED (
      SELECT e.vec_id AS cid, e.embedding AS emb,
             {_dcos('e.embedding', 'q.qe')} AS simq
      FROM embeddings e, q WHERE e.vec_id <> 0
      ORDER BY simq DESC, e.vec_id LIMIT {pool}
    ), psim AS MATERIALIZED (
      SELECT a.cid AS pa, b.cid AS pb, {_dcos('a.emb', 'b.emb')} AS sim
      FROM cands a JOIN cands b ON a.cid <> b.cid
    ), sel1 AS MATERIALIZED (
      SELECT cid, simq, {lam} * simq AS t_rel, CAST(0.0 AS DOUBLE) AS t_div
      FROM cands ORDER BY simq DESC, cid LIMIT 1
    ), selset1 AS (SELECT cid FROM sel1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""", sc{i} AS MATERIALIZED (
      SELECT c.cid, c.simq, {lam} * c.simq AS t_rel,
             {one_m} * (SELECT MAX(p.sim) FROM psim p
                        WHERE p.pa = c.cid
                          AND p.pb IN (SELECT cid FROM selset{i-1})) AS t_div
      FROM cands c WHERE c.cid NOT IN (SELECT cid FROM selset{i-1})
    ), sel{i} AS MATERIALIZED (
      SELECT cid, simq, t_rel, t_div FROM sc{i}
      ORDER BY t_rel - t_div DESC, cid LIMIT 1
    ), selset{i} AS (
      SELECT cid FROM selset{i-1} UNION ALL SELECT cid FROM sel{i}
    )"""
        )
    finals = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, cid AS vec_id, simq,"
        f" t_rel - t_div AS score FROM sel{i}"
        for i in range(1, k + 1)
    )
    parts.append(f"\n    SELECT * FROM ({finals}) ORDER BY rank")
    return "".join(parts)


@query("mmr_diverse_topk", oracle=_build_mmr_oracle(), tags=("llm", "similarity"))
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diverse top-k (Carbonell & Goldstein
    1998; operators/similarity.mmr_select): one distributed scan scores the
    corpus against the broadcast query vector and keeps a 32-candidate
    pool; the greedy λ·rel − (1−λ)·max-sim-to-selected selection then runs
    k tiny jobs over pool-bounded cached relations. The oracle replays the
    ENTIRE greedy in unrolled SQL (shared cosine folds, FMA-safe split
    λ-products), so the driver hash proves every pick, not just the final
    set."""
    from ..operators import similarity as _S

    emb = load_tables(spark, sf_dir, "embeddings").embeddings
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return _S.mmr_select(
        emb.filter(F.col("vec_id") != 0),
        qv,
        k=_MMR_K,
        pool=_MMR_POOL,
        lam=_MMR_LAM,
    )


# ---------------------------------------------------------------------------
# CEP-style sequence pattern matching + time-series gap fill
# ---------------------------------------------------------------------------

#: Event sequence pattern (MATCH_RECOGNIZE-lite): one or more views, then
#: one or more clicks, then a purchase — encoded over the per-user event
#: string (first letter of each type: e/v/c/s/p are distinct). The regex is
#: alternation-free and anchored only by adjacency, so Java's
#: leftmost-greedy and RE2's leftmost matching produce identical
#: non-overlapping match sets.
_CEP_PATTERN = "v+c+p"


@query(
    "events_pattern_match",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS s
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(s, '{_CEP_PATTERN}')) AS BIGINT)
             AS n_matches,
           CAST(COALESCE(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(regexp_extract_all(s, '{_CEP_PATTERN}'),
                                 m -> CAST(length(m) AS BIGINT))),
                  (a, b) -> a + b), 0) AS BIGINT) AS matched_chars
    FROM seq
    ORDER BY user_id
    """,
    tags=("streaming", "events"),
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern detection (the MATCH_RECOGNIZE
    analog Spark lacks): each user's event history becomes a character
    sequence (one char per event, (ts, event_id)-ordered), and the
    behavioral pattern ``view+ click+ purchase`` is a REGEX over that
    string — pattern counts and matched extents fall out of
    regexp_extract_all with zero iterative logic. Plan: ONE user-keyed
    aggregate builds the sequences (positional array_sort inside the
    aggregate — no global sort); the regex scan is a pure projection over
    the user relation (bounded by users, not events). The
    sequence-as-string trick is the scalable CEP encoding: state per user
    is one string, and any Kleene pattern the Java∩RE2 dialect supports
    works unchanged."""
    t = load_tables(spark, sf_dir, "events")
    seq = (
        t.events.select(
            "user_id",
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c")).alias(
                "e"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("e")), lambda s: s["c"]),
                "",
            ).alias("s")
        )
    )
    matches = F.regexp_extract_all(F.col("s"), F.lit(_CEP_PATTERN), F.lit(0))
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("seq_len"),
        F.size(matches).cast("long").alias("n_matches"),
        F.aggregate(
            matches,
            F.lit(0).cast("long"),
            lambda acc, m: acc + F.length(m).cast("long"),
        ).alias("matched_chars"),
    ).orderBy("user_id")


_Q15 = 900_000_000  # 15 minutes in microseconds


@query(
    "events_gapfill_15m",
    oracle=f"""
    WITH b AS (
      SELECT event_type, epoch_us(ts) // {_Q15} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS revenue
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b
      GROUP BY event_type
    ), grid AS (
      SELECT bounds.event_type, unnest(generate_series(lo, hi)) AS bucket
      FROM bounds
    )
    SELECT g.event_type, g.bucket,
           CAST(COALESCE(b.n, 0) AS BIGINT) AS n,
           CAST(b.n IS NULL AS BIGINT) AS filled,
           last_value(b.revenue IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue_locf
    FROM grid g LEFT JOIN b ON b.event_type = g.event_type
                           AND b.bucket = g.bucket
    ORDER BY g.event_type, g.bucket
    """,
    tags=("streaming", "events"),
)
def events_gapfill_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with last-observation-carried-forward (the
    TimescaleDB ``time_bucket_gapfill``/``locf`` analog, the read-side
    companion of the hypertable rollup): purchase revenue per 15-minute
    bucket (exact DECIMAL sums ⇒ order-independent), a dense bucket grid
    synthesized per type via sequence-explode (volume = time range /
    bucket width, independent of event count), empty buckets flagged and
    their revenue carried forward by an ignore-nulls window. Plan: one
    (type, bucket) aggregate over the filtered scan, a two-row bounds
    aggregate, the grid explode map-side, one type-keyed window."""
    t = load_tables(spark, sf_dir, "events")
    from pyspark.sql import Window

    b = (
        t.events.filter(F.col("event_type") == "purchase")
        .groupBy(
            "event_type",
            F.expr(f"unix_micros(ts) div {_Q15}").alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    bounds = b.groupBy("event_type").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("bucket"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(b, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
            F.col("n").isNull().cast("long").alias("filled"),
            F.last("revenue", ignorenulls=True).over(w).alias("revenue_locf"),
        )
        .orderBy("event_type", "bucket")
    )


# ---------------------------------------------------------------------------
# Data-contract validation (expectations suite)
# ---------------------------------------------------------------------------


@query(
    "validate_expectations",
    oracle="""
    WITH o AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_keys,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS null_keys,
             CAST(SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 450000
                           THEN 1 ELSE 0 END) AS BIGINT) AS price_oob,
             CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '2001-01-01'
                           THEN 1 ELSE 0 END) AS BIGINT) AS late_dates,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F')
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_status
      FROM orders
    ), fk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS orphans FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    ), d AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
                  AS BIGINT) AS bad_nchars,
             CAST(SUM(CASE WHEN lang NOT IN ('en','de','es','fr','zh')
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_lang
      FROM documents
    )
    SELECT * FROM (
      SELECT 'orderkey_unique_not_null' AS rule_id, 'orders' AS table_name,
             o.n AS n_checked, o.dup_keys + o.null_keys AS n_violations
      FROM o
      UNION ALL
      SELECT 'custkey_fk_valid', 'orders', o.n, fk.orphans FROM o, fk
      UNION ALL
      SELECT 'totalprice_in_range', 'orders', o.n, o.price_oob FROM o
      UNION ALL
      SELECT 'orderdate_before_2001', 'orders', o.n, o.late_dates FROM o
      UNION ALL
      SELECT 'status_enum_of', 'orders', o.n, o.bad_status FROM o
      UNION ALL
      SELECT 'nchars_matches_text', 'documents', d.n, d.bad_nchars FROM d
      UNION ALL
      SELECT 'lang_enum_known', 'documents', d.n, d.bad_lang FROM d
    )
    ORDER BY rule_id
    """,
    tags=("llm", "quality"),
)
def validate_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation (the Great-Expectations/dbt-test shape):
    uniqueness, null, range, enum, freshness-bound, cross-column
    consistency, and referential-integrity rules evaluated as ONE
    conditional-aggregate pass per table (never one scan per rule) plus a
    single FK probe; rule rows are reshaped from the aggregate, so adding
    a rule adds a column to the agg, not a scan. Deliberately mixed
    outcome on this corpus: the enum/range/freshness rules FAIL (status
    'P', prices > 450k, orders in 2001) while key/FK/consistency rules
    pass — the driver hash checks exact violation counts either way."""
    t = load_tables(spark, sf_dir, "orders", "customer", "documents")
    o = t.orders.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("dup_keys"),
        F.sum(F.col("o_orderkey").isNull().cast("long"))
        .cast("long")
        .alias("null_keys"),
        F.sum(
            ((F.col("o_totalprice") < 0) | (F.col("o_totalprice") > 450000))
            .cast("long")
        )
        .cast("long")
        .alias("price_oob"),
        F.sum(
            (F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
            .cast("long")
        )
        .cast("long")
        .alias("late_dates"),
        F.sum((~F.col("o_orderstatus").isin("O", "F")).cast("long"))
        .cast("long")
        .alias("bad_status"),
    )
    fk = (
        t.orders.join(
            t.customer,
            t.orders["o_custkey"] == t.customer["c_custkey"],
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("orphans"))
    )
    d = t.documents.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("n_chars") != F.length("text")).cast("long"))
        .cast("long")
        .alias("bad_nchars"),
        F.sum(
            (~F.col("lang").isin("en", "de", "es", "fr", "zh")).cast("long")
        )
        .cast("long")
        .alias("bad_lang"),
    )
    ocols = o.crossJoin(fk)  # two 1-row frames

    def mk_rule(rid, tbl, n_col, v_col):
        return F.struct(
            F.lit(rid).alias("rule_id"),
            F.lit(tbl).alias("table_name"),
            F.col(n_col).alias("n_checked"),
            v_col.alias("n_violations"),
        )

    # Reshape each 1-row aggregate into rule rows via explode (the
    # profile_documents convention) — a unionByName of per-rule selects
    # would make Catalyst recompute the aggregate (and re-scan the table)
    # once per branch: measured 7 orders scans vs 2 here.
    o_rules = ocols.select(
        F.explode(
            F.array(
                mk_rule("orderkey_unique_not_null", "orders", "n",
                        F.col("dup_keys") + F.col("null_keys")),
                mk_rule("custkey_fk_valid", "orders", "n", F.col("orphans")),
                mk_rule("totalprice_in_range", "orders", "n", F.col("price_oob")),
                mk_rule("orderdate_before_2001", "orders", "n", F.col("late_dates")),
                mk_rule("status_enum_of", "orders", "n", F.col("bad_status")),
            )
        ).alias("r")
    ).select("r.*")
    d_rules = d.select(
        F.explode(
            F.array(
                mk_rule("nchars_matches_text", "documents", "n", F.col("bad_nchars")),
                mk_rule("lang_enum_known", "documents", "n", F.col("bad_lang")),
            )
        ).alias("r")
    ).select("r.*")
    return o_rules.unionByName(d_rules).orderBy("rule_id")


# ---------------------------------------------------------------------------
# Join-cardinality estimation (CMS/AMS inner product; operators/sketch.py)
# ---------------------------------------------------------------------------

from ..operators import text as _T  # noqa: E402
from ..operators.sketch import CMS_AB as _CMS_AB  # noqa: E402

_JC_W = 512


def _jc_grid_sql(table: str, keyexpr: str, name: str) -> str:
    fold = _T.duck_char_fold("key")
    kcols = ", ".join(
        f"(({a} * h + {b}) % 1000000007) % {_JC_W} AS k{j}"
        for j, (a, b) in enumerate(_CMS_AB)
    )
    unions = "\n      UNION ALL ".join(
        f"SELECT {j} AS j, k{j} AS k, n FROM {name}_buckets"
        for j in range(len(_CMS_AB))
    )
    return f"""{name}_keys AS (
      SELECT CAST({keyexpr} AS VARCHAR) AS key, CAST(COUNT(*) AS BIGINT) AS n
      FROM {table} GROUP BY 1
    ), {name}_h AS (
      SELECT key, n, {fold} AS h FROM {name}_keys
    ), {name}_buckets AS (
      SELECT key, n, {kcols} FROM {name}_h
    ), {name}_grid AS (
      SELECT j, k, CAST(SUM(n) AS BIGINT) AS c FROM ({unions}) GROUP BY j, k
    )"""


@query(
    "sketch_join_cardinality",
    oracle=f"""
    WITH {_jc_grid_sql("orders", "o_orderkey", "a")},
    {_jc_grid_sql("lineitem", "l_orderkey", "b")},
    ip AS (
      SELECT a.j, CAST(SUM(a.c * b.c) AS BIGINT) AS ip
      FROM a_grid a JOIN b_grid b ON a.j = b.j AND a.k = b.k
      GROUP BY a.j
    ), exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS c
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT stat, value FROM (
      SELECT 'exact' AS stat, c AS value FROM exact
      UNION ALL
      SELECT 'estimate', MIN(ip) FROM ip
      UNION ALL
      SELECT 'ip_row_' || CAST(j AS VARCHAR), ip FROM ip
    ) ORDER BY stat
    """,
    tags=("llm", "sketch"),
)
def sketch_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join cardinality estimation WITHOUT executing the join — the
    AMS/CMS inner-product estimator every cost-based optimizer carries
    (operators/sketch.cms_inner_products): one single-pass geometry-bounded
    CMS per side (collect ≤ d·w longs at any table size), then
    ``min_j Σ_k a[j][k]·b[j][k]`` upper-bounds Σ_key f_a·f_b = |A ⋈ B|.
    All-integer, so the DuckDB oracle rebuilds BOTH grids in SQL and the
    driver hash checks every per-depth inner product, the min-estimate,
    and the true join count it is judged against (the exact count is the
    only stage that runs the join — it is the audit, not the estimator)."""
    from ..operators.sketch import cms_build, cms_inner_products

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    ka = t.orders.groupBy(
        F.col("o_orderkey").cast("string").alias("key")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    kb = t.lineitem.groupBy(
        F.col("l_orderkey").cast("string").alias("key")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    ga = cms_build(ka, "key", width=_JC_W, weight_col="n")
    gb = cms_build(kb, "key", width=_JC_W, weight_col="n")
    ips = cms_inner_products(ga, gb)
    exact = (
        t.orders.join(
            t.lineitem,
            t.orders["o_orderkey"] == t.lineitem["l_orderkey"],
        ).count()
    )
    rows = [("exact", int(exact)), ("estimate", min(ips))] + [
        (f"ip_row_{j}", int(v)) for j, v in enumerate(ips)
    ]
    return (
        spark.createDataFrame(rows, "stat string, value long").orderBy("stat")
    )


# ---------------------------------------------------------------------------
# Distribution-drift monitor (chi-square between ingest waves)
# ---------------------------------------------------------------------------


@query(
    "profile_drift_chisq",
    oracle="""
    WITH cells AS (
      SELECT source, lang,
             CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_old,
             CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new
      FROM documents GROUP BY source, lang
    ), tot AS (
      SELECT CAST(SUM(n_old) AS BIGINT) AS t_old,
             CAST(SUM(n_new) AS BIGINT) AS t_new
      FROM cells
    )
    SELECT c.source, c.lang, c.n_old, c.n_new,
           CAST(CASE WHEN c.n_old = 0 THEN -1 ELSE FLOOR(
             (CAST((c.n_new * t.t_old - c.n_old * t.t_new)
                   * (c.n_new * t.t_old - c.n_old * t.t_new) AS DOUBLE)
              / CAST(c.n_old * t.t_new * t.t_old AS DOUBLE)) * 1000000 + 0.5
           ) END AS BIGINT) AS chi_micro
    FROM cells c, tot t
    ORDER BY c.source, c.lang
    """,
    tags=("llm", "quality"),
)
def profile_drift_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between two ingest waves (the PSI/χ²
    check a continuous pipeline runs before accepting a batch): per
    (source, lang) cell, the χ² contribution of the new wave against the
    old wave's distribution — numerator and denominator assembled as EXACT
    BIGINTs, one correctly-rounded double division (bit-identical on every
    engine), micro-rounded per cell so any downstream total is an
    order-independent integer sum. Unseen-in-old cells flag -1 (the
    new-category signal χ² cannot price). Plan: one (source,lang)
    conditional aggregate + a broadcast 1-row totals join — cell
    cardinality bounds everything after the scan."""
    docs = load_tables(spark, sf_dir, "documents").documents
    cells = docs.groupBy("source", "lang").agg(
        F.sum((F.col("doc_id") % 2 == 0).cast("long")).cast("long").alias("n_old"),
        F.sum((F.col("doc_id") % 2 == 1).cast("long")).cast("long").alias("n_new"),
    )
    tot = cells.agg(
        F.sum("n_old").cast("long").alias("t_old"),
        F.sum("n_new").cast("long").alias("t_new"),
    )
    num = (
        F.col("n_new") * F.col("t_old") - F.col("n_old") * F.col("t_new")
    )
    chi = (num * num).cast("double") / (
        F.col("n_old") * F.col("t_new") * F.col("t_old")
    ).cast("double")
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_old",
            "n_new",
            F.when(F.col("n_old") == 0, F.lit(-1).cast("long"))
            .otherwise(F.floor(chi * 1_000_000 + 0.5).cast("long"))
            .alias("chi_micro"),
        )
        .orderBy("source", "lang")
    )


# ---------------------------------------------------------------------------
# Triangle counting (near-dup graph cohesion) + k-anonymity audit
# ---------------------------------------------------------------------------


@query(
    "graph_triangle_counts",
    oracle=f"""
    WITH {DUCK_SHINGLE_SETS},
    pairs AS (
      {NEAR_DUP_PAIRS}
    ),
    tri AS (
      SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    pernode AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    )
    SELECT node, n_triangles FROM pernode ORDER BY node
    """,
    tags=("llm", "dedup"),
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the near-dup pair graph (the cohesion
    metric that separates tight duplicate cliques from chains of borderline
    matches — a high-triangle cluster is a true template family, a
    triangle-free chain is transitive-closure noise). The canonical
    oriented-edge algorithm: with edges directed low→high id, each
    triangle is counted exactly once by joining e(a,b)⋈e(b,c)⋈e(a,c) — two
    equi-joins whose volume scales with Σ deg², never nodes³. Pairs are
    the threshold-exact MinHash-LSH relation (the dedup_clusters
    convention); the oracle recomputes from exact-Jaccard pairs."""
    from ..operators import dedup as _D

    docs = load_tables(spark, sf_dir, "documents").documents
    pairs = _D.minhash_lsh_dedup(docs, threshold=0.5).select("doc_a", "doc_b")
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy("node")
    )


@query(
    "privacy_k_anonymity",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS class_size
      FROM customer GROUP BY 1, 2
    )
    SELECT nation, segment, class_size,
           CAST(class_size < 5 AS BIGINT) AS at_risk
    FROM classes
    ORDER BY nation, segment
    """,
    tags=("llm", "quality"),
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair
    (nation, market segment): equivalence-class sizes and the classes
    below k=5 that would need suppression/generalization before release —
    the data-governance gate a curation pipeline runs before publishing
    attributes alongside text. One conditional aggregate; class
    cardinality bounds everything after the scan."""
    cust = load_tables(spark, sf_dir, "customer").customer
    return (
        cust.groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
        .select(
            "nation",
            "segment",
            "class_size",
            (F.col("class_size") < 5).cast("long").alias("at_risk"),
        )
        .orderBy("nation", "segment")
    )


# ---------------------------------------------------------------------------
# Exact-substring span removal (the apply side of dedup_span_coverage)
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (lexical ∪ vector retrieval)
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_POOL = 50


@query(
    "search_rrf_fusion",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+')))
               AS term
      FROM documents
    ), qterms AS (
      SELECT DISTINCT term FROM toks WHERE doc_id = 0
    ), lex AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n DESC, doc_id) AS lex_rank
      FROM (
        SELECT t.doc_id, COUNT(*) AS n
        FROM toks t JOIN qterms q USING (term)
        WHERE t.doc_id <> 0 GROUP BY t.doc_id
      ) ORDER BY n DESC, doc_id LIMIT {_RRF_POOL}
    ), qv AS (
      SELECT embedding AS q FROM embeddings WHERE vec_id = 0
    ), vec AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS vec_rank
      FROM (
        SELECT e.vec_id AS doc_id, {_dcos('e.embedding', 'qv.q')} AS sim
        FROM embeddings e, qv WHERE e.vec_id <> 0
      ) ORDER BY sim DESC, doc_id LIMIT {_RRF_POOL}
    ), fused AS (
      SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
             CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
             CAST(COALESCE(v.vec_rank, 0) AS BIGINT) AS vec_rank,
             COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + v.vec_rank), 0.0) AS score
      FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, lex_rank, vec_rank,
           CAST(FLOOR(score * 1000000000 + 0.5) AS BIGINT) AS rrf_nano
    FROM fused
    ORDER BY rrf_nano DESC, doc_id LIMIT 10
    """,
    tags=("llm", "similarity"),
)
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a vector ranking (the
    standard zero-tuning hybrid-retrieval combiner; Cormack et al. 2009):
    top-50 by shared-query-terms and top-50 by cosine are fused with
    ``Σ 1/(60+rank)``. Ranks come from totally-ordered (score, id) sorts;
    the two reciprocal terms are correctly-rounded double divisions added
    in a fixed order, then nano-rounded — bit-identical on every engine.
    Plan: the term join broadcasts the query's terms, the cosine scan
    broadcasts one query vector, both rankings are TakeOrdered pools, the
    fusion is a pool-bounded full-outer join."""
    from ..operators.similarity import cosine as _cosine
    from ..operators.text import tokens as _tokens
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "documents", "embeddings")
    toks = t.documents.select(
        "doc_id", F.explode(F.array_distinct(_tokens("text"))).alias("term")
    )
    q_terms = toks.filter(F.col("doc_id") == 0).select("term").distinct()
    lex = (
        toks.filter(F.col("doc_id") != 0)
        .join(F.broadcast(q_terms), "term")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "doc_id")
        .limit(_RRF_POOL)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "doc_id"))
            .cast("long")
            .alias("lex_rank"),
        )
    )
    qv = t.embeddings.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    vec = (
        t.embeddings.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            _cosine(F.col("embedding"), F.col("q")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "doc_id")
        .limit(_RRF_POOL)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("sim").desc(), "doc_id"))
            .cast("long")
            .alias("vec_rank"),
        )
    )
    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("lex_rank"), F.lit(0).cast("long")).alias("lex_rank"),
            F.coalesce(F.col("vec_rank"), F.lit(0).cast("long")).alias("vec_rank"),
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K) + F.col("vec_rank")), F.lit(0.0)
                )
            ).alias("score"),
        )
    )
    return (
        fused.select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.floor(F.col("score") * 1_000_000_000 + 0.5)
            .cast("long")
            .alias("rrf_nano"),
        )
        .orderBy(F.col("rrf_nano").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Incremental rollup restatement (late-data partition recompute)
# ---------------------------------------------------------------------------

_HR_US = 3_600_000_000


@query(
    "rollup_incremental_restatement",
    oracle=f"""
    SELECT event_type,
           epoch_us(ts) // {_HR_US} AS hour,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_micro,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("streaming", "events"),
)
def rollup_incremental_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data rollup restatement (the incremental-ETL pattern: a
    landed hourly rollup + a late-arriving delta → recompute ONLY the
    hours the delta touches, keep every other hour's row untouched).
    Needed because `n_users` (exact distinct) is NOT mergeable from
    aggregates — the restated hours re-aggregate from base∪delta, which
    is why production rollups keep the base partitioned by hour: the
    recompute reads only the touched partitions (cf. layout/manifest
    pruning). Here base = 99% of events, delta = the scattered 1%
    (event_id % 97 == 0 — guaranteed late rows into already-landed
    hours); the oracle is the FULL rebuild, so the driver hash proves
    restatement == rebuild including the distinct counts. Value sums are
    micro-fixed-point BIGINTs (order-free)."""
    ev = load_tables(spark, sf_dir, "events").events.select(
        "event_id",
        "event_type",
        "user_id",
        F.expr(f"unix_micros(ts) div {_HR_US}").alias("hour"),
        # explicit ROUND: bare CAST(double AS BIGINT) truncates on Spark but
        # ROUNDS on DuckDB — *1e6 lands on the x.9999 side for 2-decimal
        # values and the two casts split (caught by the strict sweep)
        F.expr("CAST(ROUND(value * 1000000, 0) AS BIGINT)").alias("v_micro"),
    )
    base = ev.filter(F.col("event_id") % 97 != 0)
    delta = ev.filter(F.col("event_id") % 97 == 0)

    def rollup(df):
        return df.groupBy("event_type", "hour").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v_micro").cast("long").alias("sum_micro"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )

    prev = rollup(base)  # the "landed" rollup
    touched = delta.select("event_type", "hour").distinct()
    # recompute touched (type, hour) cells from base ∪ delta — at scale the
    # base side is partition-pruned to exactly these hours
    restated = rollup(
        base.unionByName(delta).join(touched, ["event_type", "hour"])
    )
    untouched = prev.join(touched, ["event_type", "hour"], "left_anti")
    return untouched.unionByName(restated).orderBy("event_type", "hour")


# ---------------------------------------------------------------------------
# ANALYZE-style statistics: equi-height histogram + MAD robust outliers
# ---------------------------------------------------------------------------

_HIST_B = 8


@query(
    "profile_equiheight_histogram",
    oracle=f"""
    WITH v AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c, o_orderkey
      FROM orders
    ), r AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c, o_orderkey) AS rn,
             COUNT(*) OVER () AS n
      FROM v
    )
    SELECT CAST((rn - 1) * {_HIST_B} // n AS BIGINT) AS bucket,
           CAST(MIN(c) AS BIGINT) AS lo_cents,
           CAST(MAX(c) AS BIGINT) AS hi_cents,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM r
    GROUP BY 1 ORDER BY 1
    """,
    tags=("relational", "stats"),
)
def profile_equiheight_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-height (height-balanced) histogram over order totals — the
    ANALYZE-TABLE statistic a cost-based optimizer feeds selectivity
    estimation from (the companion of `sketch_join_cardinality`'s
    frequency grids). Values are exact integer cents; bucket assignment is
    the deterministic integer rank formula ``(rn-1)·B div n`` over the
    totally-ordered (value, key) sequence, so boundaries and counts are
    engine-exact. The global row_number is the textbook single-column
    stats pass — at 100 TB you run it per range-partition on a sample
    (the documented swap); bucket count is fixed, output is B rows."""
    from pyspark.sql import Window

    orders = load_tables(spark, sf_dir, "orders").orders
    v = orders.select(
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("c"),
        "o_orderkey",
    )
    w = Window.orderBy("c", "o_orderkey")
    r = v.select(
        "c",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return (
        r.groupBy(
            F.expr(f"CAST((rn - 1) * {_HIST_B} div n AS BIGINT)").alias("bucket")
        )
        .agg(
            F.min("c").cast("long").alias("lo_cents"),
            F.max("c").cast("long").alias("hi_cents"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .orderBy("bucket")
    )


@query(
    "events_mad_outliers",
    oracle="""
    WITH v AS (
      SELECT event_type, event_id,
             CAST(ROUND(value * 1000000) AS BIGINT) AS vm
      FROM events
    ), med AS (
      SELECT event_type, vm AS med FROM (
        SELECT event_type, vm,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY vm, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM v
      ) WHERE rn = (n + 1) // 2
    ), d AS (
      SELECT v.event_type, v.event_id, v.vm, ABS(v.vm - m.med) AS dev
      FROM v JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, dev AS mad FROM (
        SELECT event_type, dev,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY dev, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM d
      ) WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(m.med) AS BIGINT) AS median_micro,
           CAST(MIN(a.mad) AS BIGINT) AS mad_micro,
           CAST(SUM(CASE WHEN d.dev > 3 * a.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM d
    JOIN med m USING (event_type)
    JOIN mad a USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation (the
    robust-statistics member next to the z-score: immune to the outliers
    it hunts). Medians are EXACT order-statistic selections — the value at
    rank ``(n+1) div 2`` of the totally-ordered integer-micro sequence —
    never interpolation, so everything stays engine-exact integers; the
    3·MAD rule is an integer comparison. Plan: two per-type window passes
    (value ranks, then deviation ranks) + broadcastable per-type medians;
    both windows key on event_type and scale with per-type volume."""
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, "events").events
    v = ev.select(
        "event_type",
        "event_id",
        F.expr("CAST(ROUND(value * 1000000, 0) AS BIGINT)").alias("vm"),
    )

    def per_type_median(df, col):
        w = Window.partitionBy("event_type").orderBy(col, "event_id")
        wn = Window.partitionBy("event_type")
        return (
            df.select(
                "event_type",
                F.col(col),
                F.row_number().over(w).alias("rn"),
                F.count(F.lit(1)).over(wn).alias("n"),
            )
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select("event_type", F.col(col).alias("m"))
        )

    med = per_type_median(v, "vm").withColumnRenamed("m", "med")
    d = v.join(F.broadcast(med), "event_type").select(
        "event_type", "event_id", "vm",
        F.abs(F.col("vm") - F.col("med")).alias("dev"),
    )
    mad = per_type_median(d, "dev").withColumnRenamed("m", "mad")
    return (
        d.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("med").cast("long").alias("median_micro"),
            F.min("mad").cast("long").alias("mad_micro"),
            F.sum((F.col("dev") > 3 * F.col("mad")).cast("long"))
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# A/B funnel conversion with a two-proportion z statistic
# ---------------------------------------------------------------------------

from ..operators.text import duck_char_fold as _dfold  # noqa: E402


@query(
    "events_ab_conversion",
    oracle=f"""
    WITH fv AS (
      SELECT user_id,
             {_dfold("md5(CAST(user_id AS VARCHAR))")} % 2 AS arm,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               AS first_view
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT f.user_id, f.arm,
             CASE WHEN f.first_view IS NOT NULL THEN 1 ELSE 0 END AS exposed,
             CASE WHEN f.first_view IS NOT NULL AND EXISTS (
               SELECT 1 FROM events e
               WHERE e.user_id = f.user_id AND e.event_type = 'purchase'
                 AND epoch_us(e.ts) > f.first_view
                 AND epoch_us(e.ts) <= f.first_view + 3600000000
             ) THEN 1 ELSE 0 END AS conv
      FROM fv f
    ), arms AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN exposed ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN arm = 1 THEN exposed ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
      FROM conv
    )
    SELECT n_a, c_a, n_b, c_b,
           CAST(CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN 0
                ELSE FLOOR(
             ((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
              / SQRT((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                     * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                     * (1.0 / n_a + 1.0 / n_b)))
             * 1000000 + 0.5) END AS BIGINT) AS z_micro
    FROM arms
    """,
    tags=("streaming", "events", "stats"),
)
def events_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash-split into two arms with the
    registry's portable bucket hash (assignment reproducible across runs
    and engines — the experimentation requirement), per-arm view→purchase
    conversion (ordered: a purchase must FOLLOW the first view), and the
    classic two-proportion pooled z statistic. Exact integer counts; the
    z formula is correctly-rounded double ops in one fixed order (divides
    and a sub-of-divides — no FMA-fusable product-pair anywhere),
    micro-rounded. Plan: one user-keyed conditional aggregate, then a
    1-row arm rollup."""
    from ..operators.curation import split_bucket

    ev = load_tables(spark, sf_dir, "events").events
    fv = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.unix_micros("ts"))
            ).alias("first_view")
        )
        .withColumn("arm", split_bucket("user_id", 2))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("pts")
    )
    hits = (
        fv.join(purch, "user_id", "left")
        .filter(
            F.col("pts").isNotNull()
            & (F.col("pts") > F.col("first_view"))
            & (F.col("pts") <= F.col("first_view") + 3_600_000_000)
        )
        .select("user_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    per_user = fv.join(hits, "user_id", "left").select(
        "arm",
        F.col("first_view").isNotNull().cast("long").alias("exposed"),
        (F.col("first_view").isNotNull() & F.col("hit").isNotNull())
        .cast("long")
        .alias("conv"),
    )
    arms = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("exposed")).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("exposed")).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    pa = F.col("c_a").cast("double") / F.col("n_a")
    pb = F.col("c_b").cast("double") / F.col("n_b")
    pp = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (pa - pb) / F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    degenerate = (F.col("c_a") + F.col("c_b") == 0) | (
        F.col("c_a") + F.col("c_b") == F.col("n_a") + F.col("n_b")
    )
    return arms.select(
        "n_a", "c_a", "n_b", "c_b",
        F.when(degenerate, F.lit(0))
        .otherwise(F.floor(z * 1_000_000 + 0.5))
        .cast("long")
        .alias("z_micro"),
    )


# ---------------------------------------------------------------------------
# Per-source quantile normalization of quality scores
# ---------------------------------------------------------------------------


@query(
    "quality_rank_normalize",
    oracle="""
    WITH s AS (
      SELECT doc_id, source,
             CAST(length(text) AS BIGINT)
               * CAST(len(list_distinct(string_split_regex(text, '\\s+')))
                      AS BIGINT) AS raw_score
      FROM documents
    ), r AS (
      SELECT doc_id, source, raw_score,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY raw_score, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM s
    )
    SELECT doc_id, source, raw_score,
           CAST(CASE WHEN n > 1 THEN (rn - 1) * 1000 // (n - 1)
                ELSE 500 END AS BIGINT) AS permille,
           CAST(CASE WHEN (CASE WHEN n > 1 THEN (rn - 1) * 1000 // (n - 1)
                           ELSE 500 END) >= 300
                THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM r
    ORDER BY doc_id
    """,
    tags=("llm", "quality"),
)
def quality_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of a quality score (the
    FineWeb/CCNet practice: a single global threshold over raw scores
    systematically biases against whole crawls/dumps, so each SOURCE is
    ranked internally and the cut applies to the percentile, not the raw
    value). Score = length × distinct-token count (any raw signal works —
    the op is the normalization); permille = the exact integer rank
    transform ``(rn−1)·1000 div (n−1)`` over a totally-ordered (score,
    id) sequence; keep = bottom-30 % dropped PER SOURCE. One source-keyed
    window shuffle; every source keeps ~70 % regardless of its raw-score
    distribution (the fairness property, pinned)."""
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, "documents").documents
    s = docs.select(
        "doc_id",
        "source",
        (
            F.length("text").cast("long")
            * F.size(F.array_distinct(F.split("text", r"\s+"))).cast("long")
        ).alias("raw_score"),
    )
    w = Window.partitionBy("source").orderBy("raw_score", "doc_id")
    wn = Window.partitionBy("source")
    r = s.select(
        "doc_id",
        "source",
        "raw_score",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    permille = F.when(
        F.col("n") > 1, F.expr("(rn - 1) * 1000 div (n - 1)")
    ).otherwise(F.lit(500))
    return r.select(
        "doc_id",
        "source",
        "raw_score",
        permille.cast("long").alias("permille"),
        (permille >= 300).cast("long").alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Collection-function breadth: maps + exists/forall/flatten
# ---------------------------------------------------------------------------


@query(
    "scalar_collection_functions",
    oracle="""
    WITH m AS (
      SELECT event_id,
             MAP {'type': event_type, 'uid': CAST(user_id AS VARCHAR)} AS mp,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
             generate_series(1, 1 + CAST(event_id % 5 AS INTEGER)) AS arr
      FROM events
    )
    SELECT event_id,
           CAST(cardinality(mp) AS BIGINT) AS n_keys,
           array_to_string(list_sort(map_keys(mp)), ',') AS keys_csv,
           map_extract(mp, 'type')[1] AS type_val,
           k_val,
           CAST(len(list_filter(arr, x -> x % 4 = 0)) > 0 AS BIGINT)
             AS has_mult4,
           CAST(len(list_filter(arr, x -> x < 5)) = len(arr) AS BIGINT)
             AS all_below5,
           CAST(len(flatten([arr, list_reverse(arr)])) AS BIGINT)
             AS flat_len,
           CAST(list_reduce(flatten([arr, list_reverse(arr)]),
                            (a, b) -> a + b) AS BIGINT) AS flat_sum
    FROM m
    ORDER BY event_id
    """,
    tags=("relational", "scalar"),
)
def scalar_collection_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection-type breadth: MAP construction/inspection
    (create_map/map_concat/map_keys/element_at — the typed-metadata columns
    multimodal tables carry), JSON→typed-map parsing, and the higher-order
    trio the array family was missing (exists / forall / flatten). Every
    output is scalarized deterministically (sorted key lists, fold sums) so
    the map's internal ordering never reaches the hash. Pure projection —
    zero shuffle beyond the presentation sort."""
    ev = load_tables(spark, sf_dir, "events").events
    mp = F.map_concat(
        F.create_map(F.lit("type"), F.col("event_type")),
        F.create_map(F.lit("uid"), F.col("user_id").cast("string")),
    )
    arr = F.sequence(F.lit(1), (F.lit(1) + F.col("event_id") % 5).cast("int"))
    flat = F.flatten(F.array(arr, F.reverse(arr)))
    return ev.select(
        "event_id",
        F.size(mp).cast("long").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(mp)), ",").alias("keys_csv"),
        F.element_at(mp, F.lit("type")).alias("type_val"),
        F.element_at(
            F.from_json(F.col("props"), "map<string,bigint>"), F.lit("k")
        ).alias("k_val"),
        F.exists(arr, lambda x: x % 4 == 0).cast("long").alias("has_mult4"),
        F.forall(arr, lambda x: x < 5).cast("long").alias("all_below5"),
        F.size(flat).cast("long").alias("flat_len"),
        F.aggregate(
            flat, F.lit(0).cast("long"), lambda a, b: a + b.cast("long")
        ).alias("flat_sum"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# BFS hop distances from cluster representatives (graph.bfs_levels)
# ---------------------------------------------------------------------------


@query(
    "graph_bfs_levels",
    oracle=f"""
    WITH RECURSIVE {NEAR_DUP_CLUSTERS},
    roots AS (SELECT DISTINCT cluster AS n FROM lbls),
    bfs(n, level) AS (
      SELECT n, 0 FROM roots
      UNION
      SELECT e.v, bfs.level + 1 FROM bfs JOIN e ON e.u = bfs.n
      WHERE bfs.level < 30
    )
    SELECT n AS node, CAST(MIN(level) AS BIGINT) AS level
    FROM bfs GROUP BY n ORDER BY node
    """,
    tags=("llm", "dedup"),
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from every near-dup-graph node to its cluster's
    min-id representative (operators/graph.bfs_levels): the radius
    structure that distinguishes a clique (everything at hop 1) from a
    borderline-match chain (deep levels) — the diagnostic behind choosing
    a dedup keep-rule. Iterative frontier expansion with edges partitioned
    once; the oracle replays BFS as a recursive CTE with MIN-level
    aggregation over the exact-Jaccard graph."""
    from ..operators import dedup as _D
    from ..operators import graph as _G

    docs = load_tables(spark, sf_dir, "documents").documents
    pairs = _D.minhash_lsh_dedup(docs, threshold=0.5).select("doc_a", "doc_b")
    labels = _G.connected_components(pairs)
    roots = labels.select(F.col("cluster").alias("node")).distinct()
    out = _G.bfs_levels(pairs, roots)
    # int64 level: the driver hash renders through the container dtype
    return out.select("node", F.col("level").cast("long").alias("level")).orderBy(
        "node"
    )


# ---------------------------------------------------------------------------
# Struct-function breadth: named_struct / arrays_zip / inline / outer explode
# ---------------------------------------------------------------------------


@query(
    "scalar_struct_functions",
    oracle="""
    WITH s AS (
      SELECT o_orderkey,
             {'status': o_orderstatus, 'priority': o_orderpriority,
              'cents': CAST(ROUND(o_totalprice * 100) AS BIGINT)} AS st,
             CASE WHEN o_orderkey % 3 = 0 THEN []
                  ELSE [CAST(o_orderkey % 7 AS BIGINT),
                        CAST(o_orderkey % 5 AS BIGINT)] END AS xs
      FROM orders
    )
    SELECT o_orderkey,
           st.status AS status,
           st.cents AS cents,
           CAST(len(xs) AS BIGINT) AS n_xs,
           COALESCE(xs[1], -1) AS first_x,
           COALESCE(array_to_string(list_transform(
             list_zip(xs, list_reverse(xs)),
             p -> CAST(p[1] AS VARCHAR) || ':' || CAST(p[2] AS VARCHAR)), ','),
             '') AS zipped_csv
    FROM s
    ORDER BY o_orderkey
    """,
    tags=("relational", "scalar"),
)
def scalar_struct_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct-type breadth: named_struct construction + field access (the
    envelope/metadata shape every message table carries), arrays_zip with
    positional pairing scalarized to a CSV, and empty-array/NULL-element
    handling (element_at past the end → NULL → COALESCE sentinel, zip of
    empty arrays → empty string) — the null-semantics corners that differ
    most across engines, pinned equal. Pure projection."""
    orders = load_tables(spark, sf_dir, "orders").orders
    st = F.struct(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
    )
    xs = F.when(F.col("o_orderkey") % 3 == 0, F.array().cast("array<long>")).otherwise(
        F.array(
            (F.col("o_orderkey") % 7).cast("long"),
            (F.col("o_orderkey") % 5).cast("long"),
        )
    )
    s = orders.select(
        "o_orderkey", st.alias("st"), xs.alias("xs")
    ).withColumn("rxs", F.reverse(F.col("xs")))
    zipped = F.transform(
        F.arrays_zip(F.col("xs"), F.col("rxs")),
        lambda p: F.concat(
            p["xs"].cast("string"), F.lit(":"), p["rxs"].cast("string")
        ),
    )
    return s.select(
        "o_orderkey",
        F.col("st.status").alias("status"),
        F.col("st.cents").alias("cents"),
        F.size("xs").cast("long").alias("n_xs"),
        F.coalesce(F.try_element_at("xs", F.lit(1)), F.lit(-1).cast("long")).alias(
            "first_x"
        ),  # ANSI mode: plain element_at raises past the end
        F.array_join(zipped, ",").alias("zipped_csv"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Token co-occurrence association mining (integer lift)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Corpus novelty + vocabulary growth curve
# ---------------------------------------------------------------------------


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
