"""Document quality signals: Gopher flags, repetition, PII, classifier
probes, expectations, k-anonymity, rank normalization, winsorizing,
Benford audits and signal rank correlation.
"""

from __future__ import annotations

import math as _math
import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import quality as Q
from ..operators import text as T
from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .fragments import ORACLE_SF_DIR, TOKS
from .registry import query


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


# Distributed-trained linear probe (integer GD; operators/classifier.py)
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

    w = _clf_train_py(_os.path.join(ORACLE_SF_DIR, "documents.parquet"))
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

    gate = ORACLE_SF_DIR if _os.path.exists(
        _os.path.join(ORACLE_SF_DIR, "documents.parquet")
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


# Data-contract validation (expectations suite)
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


# Per-source quantile normalization of quality scores
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


@query(
    "quality_winsorize",
    oracle="""
    WITH ranked AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), bounds AS (
      -- nearest-rank (Hyndman-Fan type 1) fences: rank = CEIL(p * n), an
      -- integer cents value — no interpolation, so no float arithmetic
      -- whose FMA fusion could drift between engines (the agg_corr_exact
      -- lesson; an interpolated-fence draft lost 1 ulp exactly that way)
      SELECT event_type,
             MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT) THEN cents END) AS lo_cents,
             MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN cents END) AS hi_cents
      FROM ranked
      WHERE rn IN (CAST(CEIL(0.05 * n) AS BIGINT),
                   CAST(CEIL(0.95 * n) AS BIGINT))
      GROUP BY event_type
    )
    SELECT r.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           b.lo_cents, b.hi_cents,
           CAST(SUM(LEAST(GREATEST(r.cents, b.lo_cents), b.hi_cents)) AS BIGINT)
             AS sum_clipped_cents,
           CAST(SUM(CASE WHEN r.cents < b.lo_cents OR r.cents > b.hi_cents
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM ranked r JOIN bounds b USING (event_type)
    GROUP BY r.event_type, b.lo_cents, b.hi_cents
    """,
    tags=("llm", "quality", "percentile"),
)
def quality_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (outlier clipping at the p05/p95 fences) — the robust
    preprocessing step quality/reward pipelines apply before averaging.
    Everything integer: values ride as cents, the fence is the
    NEAREST-RANK percentile (Hyndman-Fan type 1: the cents value at rank
    ceil(p·n) — an actual group member, no interpolation, so no float
    product whose FMA fusion could drift between engines), and the clipped
    sum is a BIGINT Σ, immune to float addition order.

    Plan (the spillable percentile pattern of agg_percentile_cont): one
    type-keyed sort window ranks each group on disk-spillable state, the
    ≤ 2 fence rows per group aggregate to the bounds, and the bounds join
    back BROADCAST (one row per event_type) onto the ranked relation —
    two passes over events, zero per-group memory."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "events")
    g = "event_type"
    cents = (F.col("value").cast("decimal(10,2)") * 100).cast("long")
    w_sort = Window.partitionBy(g).orderBy("value")
    w_all = Window.partitionBy(g)
    ranked = t.events.select(
        F.col(g),
        cents.alias("cents"),
        F.row_number().over(w_sort).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )

    def rank_at(p: float):
        return F.ceil(F.lit(p) * F.col("n")).cast("long")

    def fence(p: float, name: str):
        return F.max(
            F.when(F.col("rn") == rank_at(p), F.col("cents"))
        ).alias(name)

    bounds = (
        ranked.filter(
            (F.col("rn") == rank_at(0.05)) | (F.col("rn") == rank_at(0.95))
        )
        .groupBy(g)
        .agg(fence(0.05, "lo_cents"), fence(0.95, "hi_cents"))
    )
    clipped = F.least(F.greatest(F.col("cents"), F.col("lo_cents")), F.col("hi_cents"))
    out_of_fence = (F.col("cents") < F.col("lo_cents")) | (
        F.col("cents") > F.col("hi_cents")
    )
    return (
        ranked.join(F.broadcast(bounds), g)
        .groupBy(g, "lo_cents", "hi_cents")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(clipped).cast("long").alias("sum_clipped_cents"),
            F.sum(out_of_fence.cast("long")).cast("long").alias("n_clipped"),
        )
        .select(g, "n", "lo_cents", "hi_cents", "sum_clipped_cents", "n_clipped")
    )


@query(
    "privacy_l_diversity",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey AS nation,
             CAST(FLOOR(CAST(c_acctbal AS DECIMAL(12,2)) / 2000) AS BIGINT) AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS class_size,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct
      FROM customer GROUP BY 1, 2
    )
    SELECT nation, bal_band, class_size, l_distinct,
           CAST(l_distinct < 3 AS BIGINT) AS at_risk
    FROM classes
    ORDER BY nation, bal_band
    """,
    tags=("llm", "quality", "privacy"),
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion gate to privacy_k_anonymity
    (Machanavajjhala et al. 2007): a quasi-identifier class is at risk when
    its SENSITIVE attribute (market segment) has fewer than l=3 distinct
    values, even if the class itself is large (k-anonymity alone leaks by
    homogeneity). QI = (nation, account-balance band); band edges in exact
    DECIMAL so both engines bucket identically. One grouped
    distinct-aggregate; class cardinality bounds everything post-scan."""
    cust = load_tables(spark, sf_dir, "customer").customer
    band = F.floor(
        F.col("c_acctbal").cast("decimal(12,2)") / 2000
    ).cast("long")
    return (
        cust.groupBy(
            F.col("c_nationkey").alias("nation"), band.alias("bal_band")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("class_size"),
            F.countDistinct("c_mktsegment").cast("long").alias("l_distinct"),
        )
        .select(
            "nation",
            "bal_band",
            "class_size",
            "l_distinct",
            (F.col("l_distinct") < 3).cast("long").alias("at_risk"),
        )
        .orderBy("nation", "bal_band")
    )


_PII_EMAIL = Q.PII_PATTERNS["email"][0]


_PII_IP = Q.PII_PATTERNS["ipv4"][0]


_PII_PHONE = Q.PII_PATTERNS["phone"][0]


@query(
    "curation_pii_rate_by_source",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id, source,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' mail u' || CAST(doc_id AS VARCHAR)
                          || '@example.org' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' host 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.9' ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' tel 555-867-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS t
      FROM documents
    ), hits AS (
      SELECT source,
             CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
               AS n_email,
             CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT)
               AS n_ipv4,
             CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT)
               AS n_phone
      FROM seeded
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_email + n_ipv4 + n_phone > 0 THEN 1
                         ELSE 0 END) AS BIGINT) AS docs_with_pii,
           CAST(SUM(n_email) AS BIGINT) AS n_email,
           CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4,
           CAST(SUM(n_phone) AS BIGINT) AS n_phone,
           CAST(FLOOR(1000.0 * SUM(CASE WHEN n_email + n_ipv4 + n_phone > 0
                                        THEN 1 ELSE 0 END) / COUNT(*))
                AS BIGINT) AS pii_permille
    FROM hits GROUP BY source ORDER BY source
    """,
    tags=("llm", "quality", "curation"),
)
def curation_pii_rate_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PII density report by source — the governance table reviewed before
    a source is cleared for training (a source with 30 % PII-bearing docs
    gets routed through redaction or dropped; the category mix says
    which scrubber). The corpus is synthetic and PII-free, so the query
    seeds deterministic PII into overlapping id-residue subsets (email at
    %7, IP at %11, phone at %13 — identically on both engines) and must
    report exactly those densities, using the SAME category regexes as
    the registered ``pii_redaction`` scrubber so rate and redaction can
    never disagree on what counts as PII.

    Plan: seed + regex counts are a zero-shuffle projection; one
    source-keyed partial-agg shuffle (≤ |sources| × partitions rows).
    Linear at any corpus size — regexp_extract_all runs JVM-side inside
    codegen."""
    t = load_tables(spark, sf_dir, "documents")
    seeded = t.documents.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" mail u"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.org"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" host 192.168."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".9"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" tel 555-867-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
        ).alias("t"),
    )
    cnt = lambda pat: F.size(  # noqa: E731
        F.regexp_extract_all(F.col("t"), F.lit(pat), F.lit(0))
    ).cast("long")
    hits = seeded.select(
        "source",
        cnt(_PII_EMAIL).alias("n_email"),
        cnt(_PII_IP).alias("n_ipv4"),
        cnt(_PII_PHONE).alias("n_phone"),
    )
    any_pii = F.sum(
        F.when(
            F.col("n_email") + F.col("n_ipv4") + F.col("n_phone") > 0, 1
        ).otherwise(0)
    )
    return (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            any_pii.cast("long").alias("docs_with_pii"),
            F.sum("n_email").cast("long").alias("n_email"),
            F.sum("n_ipv4").cast("long").alias("n_ipv4"),
            F.sum("n_phone").cast("long").alias("n_phone"),
            F.floor(1000.0 * any_pii / F.count(F.lit(1)))
            .cast("long")
            .alias("pii_permille"),
        )
        .orderBy("source")
    )


def _gopher_rate_oracle() -> str:
    toks = T.duck_tokens("text")
    return f"""
    WITH s AS (
      SELECT doc_id, source, text, {toks} AS toks FROM documents
    ), m AS (
      SELECT source,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(toks, w -> CAST(length(w) AS BIGINT))),
                  (a,b) -> a+b) AS DOUBLE) / len(toks) AS mean_word_len,
             CAST(len(list_intersect(list_distinct(toks),
                  {list(T.STOPWORDS)!r})) AS BIGINT) AS n_distinct_stopwords,
             CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                  AS DOUBLE) / length(text) AS symbol_ratio
      FROM s
    ), verdict AS (
      SELECT source,
             ((n_words BETWEEN {Q.MIN_WORDS} AND {Q.MAX_WORDS})
              AND (mean_word_len BETWEEN {Q.MIN_MEAN_WORD_LEN}
                   AND {Q.MAX_MEAN_WORD_LEN})
              AND n_distinct_stopwords >= {Q.MIN_DISTINCT_STOPWORDS}
              AND symbol_ratio <= {Q.MAX_SYMBOL_RATIO}) AS passes
      FROM m
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(FLOOR(1000.0 * SUM(CASE WHEN passes THEN 1 ELSE 0 END)
                      / COUNT(*)) AS BIGINT) AS pass_permille
    FROM verdict GROUP BY source ORDER BY source
    """


@query(
    "quality_gopher_rate_by_source",
    oracle=_gopher_rate_oracle(),
    tags=("llm", "quality", "profile"),
)
def quality_gopher_rate_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gopher-rule pass rate per source — the gating report that decides
    which sources survive quality filtering and at what cost (a source
    passing at 40 % needs investigation, not a silent 60 % cut). Uses the
    SAME rule implementation as the registered per-doc flags query
    (operators/quality.gopher_quality_flags), so the rate and the per-doc
    verdicts can never disagree; the oracle re-derives the rules, not
    just the aggregation.

    Plan: the flags are a zero-shuffle projection; one source-keyed
    partial-agg shuffle (≤ |sources| × partitions exchange rows)."""
    t = load_tables(spark, sf_dir, "documents")
    flags = Q.gopher_quality_flags(t.documents).select("doc_id", "passes")
    j = t.documents.select("doc_id", "source").join(flags, "doc_id")
    npass = F.sum(F.col("passes").cast("int"))
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            npass.cast("long").alias("n_pass"),
            F.floor(1000.0 * npass / F.count(F.lit(1)))
            .cast("long")
            .alias("pass_permille"),
        )
        .orderBy("source")
    )


# t-closeness (Li, Li & Venkatasubramanian, ICDE 2007) — completes the
# privacy-audit trio beside privacy_k_anonymity and privacy_l_diversity:
# a QI class can be k-large and l-diverse yet still leak when its
# SENSITIVE-attribute distribution differs sharply from the table-wide
# one. For an ORDERED sensitive attribute the paper's distance is the
# ordered EMD = (1/(m-1)) * sum_i |CumP_i - CumQ_i|. Everything is exact
# integer until one final double division of integer products (< 2^53,
# double-exact in both engines) — no NTILE: the ordered buckets are
# fixed-width bands (pure projection), so the audit never global-sorts.
@query(
    "privacy_t_closeness_audit",
    oracle="""
    WITH bands AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
             CAST(FLOOR(CAST(c_acctbal AS DECIMAL(12,2)) / 1000) AS BIGINT)
               AS band
      FROM customer
    ),
    gq AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS q FROM bands GROUP BY band),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
                   CAST(COUNT(DISTINCT band) AS BIGINT) AS m FROM bands),
    cls AS (
      SELECT nation, segment, CAST(COUNT(*) AS BIGINT) AS class_size
      FROM bands GROUP BY nation, segment
    ),
    ph AS (
      SELECT nation, segment, band, CAST(COUNT(*) AS BIGINT) AS p
      FROM bands GROUP BY nation, segment, band
    ),
    dense AS (
      SELECT c.nation, c.segment, c.class_size, g.band, g.q,
             COALESCE(ph.p, 0) AS p
      FROM cls c CROSS JOIN gq g
      LEFT JOIN ph ON ph.nation = c.nation AND ph.segment = c.segment
                  AND ph.band = g.band
    ),
    cum AS (
      SELECT nation, segment, class_size, band,
             SUM(p) OVER (PARTITION BY nation, segment ORDER BY band)
               AS cum_p,
             SUM(q) OVER (PARTITION BY nation, segment ORDER BY band)
               AS cum_q
      FROM dense
    ),
    emd AS (
      SELECT nation, segment, class_size,
             CAST(SUM(ABS(cum_p * (SELECT n_total FROM tot)
                          - cum_q * class_size)) AS BIGINT) AS s
      FROM cum GROUP BY nation, segment, class_size
    )
    SELECT nation, segment, class_size,
           CAST(FLOOR(1000.0 * s / (((SELECT m FROM tot) - 1)
                 * class_size * (SELECT n_total FROM tot))) AS BIGINT)
             AS emd_milli,
           CAST(FLOOR(1000.0 * s / (((SELECT m FROM tot) - 1)
                 * class_size * (SELECT n_total FROM tot))) > 200 AS BIGINT)
             AS at_risk
    FROM emd ORDER BY nation, segment
    """,
    tags=("llm", "quality", "privacy"),
)
def privacy_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (ICDE 2007): per QI class (nation, market
    segment), the ordered earth-mover's distance between the class's
    account-balance-band distribution and the table-wide one, milli-
    floored; at_risk flags EMD > 0.2 (the paper's running-example t).
    Bands are fixed-width projections (never a global NTILE sort); the
    EMD is computed on integer cumulative counts cross-multiplied to a
    common denominator, with ONE double division of < 2^53 products at
    the end — identical in both engines. Plan: two keyed aggregates over
    the scan, then all arithmetic on dimension-sized relations
    (classes × bands); scales as the aggregate, not the audit."""
    cust = load_tables(spark, sf_dir, "customer").customer
    from pyspark.sql.window import Window

    bands = cust.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal").cast("decimal(12,2)") / 1000)
        .cast("long")
        .alias("band"),
    )
    gq = bands.groupBy("band").agg(F.count("*").cast("long").alias("q"))
    tot = bands.agg(
        F.count("*").cast("long").alias("n_total"),
        F.countDistinct("band").cast("long").alias("m"),
    )
    cls = bands.groupBy("nation", "segment").agg(
        F.count("*").cast("long").alias("class_size")
    )
    ph = bands.groupBy("nation", "segment", "band").agg(
        F.count("*").cast("long").alias("p")
    )
    dense = (
        cls.crossJoin(F.broadcast(gq))
        .join(ph, ["nation", "segment", "band"], "left")
        .select(
            "nation",
            "segment",
            "class_size",
            "band",
            "q",
            F.coalesce(F.col("p"), F.lit(0)).alias("p"),
        )
    )
    w = Window.partitionBy("nation", "segment").orderBy("band")
    cum = dense.select(
        "nation",
        "segment",
        "class_size",
        F.sum("p").over(w).alias("cum_p"),
        F.sum("q").over(w).alias("cum_q"),
    )
    emd = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("nation", "segment", "class_size", "n_total", "m")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_p") * F.col("n_total")
                    - F.col("cum_q") * F.col("class_size")
                )
            )
            .cast("long")
            .alias("s")
        )
    )
    emd_milli = F.floor(
        F.lit(1000.0)
        * F.col("s")
        / ((F.col("m") - 1) * F.col("class_size") * F.col("n_total"))
    ).cast("long")
    return emd.select(
        "nation",
        "segment",
        "class_size",
        emd_milli.alias("emd_milli"),
        (emd_milli > 200).cast("long").alias("at_risk"),
    ).orderBy("nation", "segment")


# Benford first-digit audit (Benford 1938; Nigrini's forensic usage) —
# the data-QA gate that flags fabricated or truncated numeric columns
# before they poison training features: observed first-significant-digit
# counts vs the log10(1+1/d) law, with per-digit chi-square
# contributions. Digit extraction is string-based over an exact BIGINT
# cents rendering (both engines print integers identically — no
# log10-near-power-of-ten edge cases); the law's probabilities are
# import-time micro literals, so the only floats are identically-formed
# ratios of exact integers, micro-rounded per digit.

#: Benford P(d) in micro units, d = 1..9 (python-computed literals).
_BENFORD_P = [round(1_000_000 * _math.log10(1 + 1 / d)) for d in range(1, 10)]


def _build_benford_oracle() -> str:
    prows = ", ".join(f"({d + 1}, {p})" for d, p in enumerate(_BENFORD_P))
    return f"""
    WITH p(digit, p_micro) AS (VALUES {prows}),
    cents AS (
      SELECT CAST(ABS(ROUND(value * 100)) AS BIGINT) AS n FROM events
      WHERE CAST(ABS(ROUND(value * 100)) AS BIGINT) >= 1
    ),
    obs AS (
      SELECT CAST(SUBSTRING(CAST(n AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             CAST(COUNT(*) AS BIGINT) AS observed
      FROM cents GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM obs),
    dense AS (
      SELECT p.digit, p.p_micro, COALESCE(obs.observed, 0) AS observed,
             (SELECT n FROM tot) AS n
      FROM p LEFT JOIN obs ON obs.digit = p.digit
    )
    SELECT digit, observed,
           CAST(n * p_micro // 1000000 AS BIGINT) AS expected_floor,
           CAST(ROUND(
             CAST(observed * 1000000 - n * p_micro AS DOUBLE)
             * CAST(observed * 1000000 - n * p_micro AS DOUBLE)
             / (CAST(n AS DOUBLE) * p_micro * 1000000) * 1000000
           ) AS BIGINT) AS chi_micro
    FROM dense ORDER BY digit
    """


@query(
    "events_benford_audit",
    oracle=_build_benford_oracle(),
    tags=("llm", "events", "quality"),
)
def events_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of event values against
    Benford's law, with per-digit chi-square contributions (micro units;
    the order-free per-digit rounding makes any downstream total an
    integer sum). Zero-cent values are excluded (no first digit). Plan:
    one projection + one 9-bucket aggregate + a broadcast of the 9-row
    law table — nothing after the scan exceeds nine rows."""
    t = load_tables(spark, sf_dir, "events")
    cents = t.events.select(
        F.abs(F.round(F.col("value") * 100)).cast("long").alias("n")
    ).filter(F.col("n") >= 1)
    obs = (
        cents.select(
            F.substring(F.col("n").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("observed"))
    )
    p_df = spark.createDataFrame(
        [(d + 1, p) for d, p in enumerate(_BENFORD_P)],
        "digit long, p_micro long",
    )
    tot = obs.agg(F.sum("observed").cast("long").alias("n"))
    dense = (
        F.broadcast(p_df)
        .join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "p_micro",
            F.coalesce("observed", F.lit(0)).cast("long").alias("observed"),
            "n",
        )
    )
    diff = (F.col("observed") * 1000000 - F.col("n") * F.col("p_micro")).cast(
        "double"
    )
    chi = F.round(
        diff * diff / (F.col("n").cast("double") * F.col("p_micro") * 1000000)
        * 1000000
    ).cast("long")
    return dense.select(
        "digit",
        "observed",
        idiv_col(F.col("n") * F.col("p_micro"), F.lit(1000000)).alias(
            "expected_floor"
        ),
        chi.alias("chi_micro"),
    ).orderBy("digit")


# Spearman rank-correlation matrix between per-document quality signals
# (Spearman 1904) — the cross-signal agreement diagnostic a curation
# stack reads before stacking filters: two signals that rank documents
# identically are one filter, not two. rho = 1 - 6*sum(d^2)/(n(n^2-1))
# is an EXACT rational of integers once ranks are total — ranks here
# are row_number over (signal, doc_id), the deterministic-tie-break
# convention (stated; average-rank Spearman differs under heavy ties).
# Division is truncated-toward-zero in BOTH engines (DuckDB // and the
# Spark modulo-trick agree on negatives — verified).
_SPEAR_SIGNALS = ("n_chars", "n_tokens", "n_types", "n_syllables")


def _build_spearman_oracle() -> str:
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), w -> len(w) > 0)"
    syl = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform("
        + toks
        + ", w -> CAST(GREATEST(len(regexp_extract_all(w, '[aeiouy]+')), 1)"
        " AS BIGINT))), (a, b) -> a + b)"
    )
    ranks = ", ".join(
        f"ROW_NUMBER() OVER (ORDER BY {s}, doc_id) AS rk_{s}"
        for s in _SPEAR_SIGNALS
    )
    pairs = []
    for i, a in enumerate(_SPEAR_SIGNALS):
        for b in _SPEAR_SIGNALS[i + 1 :]:
            pairs.append(
                f"SELECT '{a}' AS signal_a, '{b}' AS signal_b,"
                f" CAST(SUM((rk_{a} - rk_{b}) * (rk_{a} - rk_{b}))"
                f" AS BIGINT) AS sum_d2, CAST(COUNT(*) AS BIGINT) AS n"
                f" FROM ranked"
            )
    unions = " UNION ALL ".join(pairs)
    return f"""
    WITH sig AS (
      SELECT doc_id,
             CAST(n_chars AS BIGINT) AS n_chars,
             CAST(len({toks}) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct({toks})) AS BIGINT) AS n_types,
             CAST({syl} AS BIGINT) AS n_syllables
      FROM documents
    ),
    ranked AS (SELECT doc_id, {ranks} FROM sig),
    cells AS ({unions})
    SELECT signal_a, signal_b,
           CAST((1000 * n * (n * n - 1) - 6000 * sum_d2)
                // (n * (n * n - 1)) AS BIGINT) AS rho_milli
    FROM cells ORDER BY signal_a, signal_b
    """


@query(
    "quality_signal_rank_correlation",
    oracle=_build_spearman_oracle(),
    tags=("llm", "quality", "eval"),
)
def quality_signal_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Spearman rho (milli) between four per-document signals
    (chars, tokens, distinct tokens, syllables): the filter-redundancy
    matrix — rho ~ 1000 means the second signal adds nothing. Ranks are
    row_number over (signal, doc_id) so the statistic is exact integer
    arithmetic end-to-end. The rank windows are global sorts over the
    doc dimension (the NTILE/selection_tradeoff precedent — presentation
    grain, n(n^2-1) needs exact n anyway); everything after is six
    integers."""
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents").documents
    words = F.filter(F.split(F.lower("text"), r"\s+"), lambda w: F.length(w) > 0)
    syl = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(F.regexp_count(w, F.lit("[aeiouy]+")), F.lit(1)).cast("long"),
    )
    sig = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(words).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(words)).cast("long").alias("n_types"),
        syl.alias("n_syllables"),
    )
    ranked = sig.select(
        "doc_id",
        *[
            F.row_number()
            .over(Window.orderBy(F.col(s), F.col("doc_id")))
            .cast("long")
            .alias(f"rk_{s}")
            for s in _SPEAR_SIGNALS
        ],
    )
    # ONE aggregate computes all six sum(d^2) cells + n (a union of six
    # per-pair aggs would scan the rank relation six times), then the
    # single row explodes into the matrix.
    pair_names = [
        (a, b)
        for i, a in enumerate(_SPEAR_SIGNALS)
        for b in _SPEAR_SIGNALS[i + 1 :]
    ]
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for a, b in pair_names:
        d = F.col(f"rk_{a}") - F.col(f"rk_{b}")
        aggs.append(F.sum(d * d).cast("long").alias(f"sd2_{a}__{b}"))
    onerow = ranked.agg(*aggs)
    cells = onerow.select(
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("signal_a"),
                        F.lit(b).alias("signal_b"),
                        F.col(f"sd2_{a}__{b}").alias("sum_d2"),
                    )
                    for a, b in pair_names
                ]
            )
        ).alias("p"),
    ).select("p.signal_a", "p.signal_b", "p.sum_d2", "n")
    nn = F.col("n") * (F.col("n") * F.col("n") - 1)
    return cells.select(
        "signal_a",
        "signal_b",
        idiv_col(F.lit(1000) * nn - F.lit(6000) * F.col("sum_d2"), nn).alias(
            "rho_milli"
        ),
    ).orderBy("signal_a", "signal_b")
