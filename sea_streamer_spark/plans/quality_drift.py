"""Document profiles and source drift: chi-square, Mann-Whitney, KS and PSI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .registry import query


_PROFILE_COLS = ["doc_id", "lang", "n_chars", "source", "text"]


def _duck_profile_row(c: str) -> str:
    return (
        f"SELECT '{c}' AS column_name,"
        f" CAST(COUNT(*) AS BIGINT) AS n_rows,"
        f" CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,"
        f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,"
        f" CAST(MIN({c}) AS VARCHAR) AS min_str,"
        f" CAST(MAX({c}) AS VARCHAR) AS max_str"
        f" FROM documents"
    )


@query(
    "profile_documents",
    oracle="\nUNION ALL ".join(_duck_profile_row(c) for c in _PROFILE_COLS)
    + "\nORDER BY column_name",
    tags=("llm", "quality"),
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile of the documents table — the data-quality
    report every ingest gate starts with: row/null/exact-distinct counts
    and lexicographic min/max per column, ONE aggregation pass over the
    table (5 columns × 4 aggregates in a single groupBy-less agg; the
    5-row reshape explodes the 1-row aggregate, never re-scans). At scale
    swap exact COUNT(DISTINCT) for approx_count_distinct per tolerance —
    the exact form is the oracle-checkable contract."""
    t = load_tables(spark, sf_dir, "documents")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).cast("long").alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"{c}__nulls"),
            F.countDistinct(c).cast("long").alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = t.documents.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return (
        one.select(F.explode(rows).alias("r"))
        .select("r.*")
        .orderBy("column_name")
    )


# Distribution-drift monitor (chi-square between ingest waves)
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


# Mann-Whitney U per source vs the rest (Mann & Whitney 1947) — the
# nonparametric drift test a curation stack runs per source: does this
# source's document-length distribution differ from everything else,
# without assuming normality? U = R_1 - n_1(n_1+1)/2 from rank sums
# under ONE global ranking; ranks are row_number over (n_chars, doc_id)
# — the deterministic-total-order convention (classic average-rank tie
# handling differs under ties; stated). The z normal approximation is
# the one float (sqrt of an exact integer ratio), milli-rounded.
@query(
    "profile_mann_whitney_drift",
    oracle="""
    WITH ranked AS (
      SELECT source, CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id)
             AS BIGINT) AS rk
      FROM documents
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ranked),
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n1,
             CAST(SUM(rk) AS BIGINT) AS r1
      FROM ranked GROUP BY source
    )
    SELECT source, n1,
           CAST(r1 - n1 * (n1 + 1) // 2 AS BIGINT) AS u_stat,
           CAST(ROUND(
             (CAST(r1 - n1 * (n1 + 1) // 2 AS DOUBLE)
              - CAST(n1 * ((SELECT n FROM tot) - n1) AS DOUBLE) / 2)
             / SQRT(CAST(n1 * ((SELECT n FROM tot) - n1) AS DOUBLE)
                    * ((SELECT n FROM tot) + 1) / 12) * 1000
           ) AS BIGINT) AS z_milli
    FROM per ORDER BY source
    """,
    tags=("llm", "quality", "eval"),
)
def profile_mann_whitney_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Mann-Whitney U of document length vs the complement
    (one-vs-rest), with the normal-approximation z in milli — the
    distribution-free source-drift screen. One global rank window (the
    statistic needs a total order over the pooled sample by definition)
    + one source-keyed integer aggregate; U is exact integers, z is a
    single identically-formed sqrt of exact ratios, milli-rounded."""
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents").documents
    ranked = docs.select(
        "source",
        F.row_number()
        .over(Window.orderBy("n_chars", "doc_id"))
        .cast("long")
        .alias("rk"),
    )
    tot = ranked.agg(F.count(F.lit(1)).cast("long").alias("n"))
    per = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n1"),
        F.sum("rk").cast("long").alias("r1"),
    )
    u = F.col("r1") - idiv_col(
        F.col("n1") * (F.col("n1") + 1), F.lit(2)
    )
    n2 = F.col("n") - F.col("n1")
    z = F.round(
        (u.cast("double") - (F.col("n1") * n2).cast("double") / 2)
        / F.sqrt(
            (F.col("n1") * n2).cast("double") * (F.col("n") + 1) / 12
        )
        * 1000
    ).cast("long")
    return (
        per.crossJoin(F.broadcast(tot))
        .select("source", "n1", u.alias("u_stat"), z.alias("z_milli"))
        .orderBy("source")
    )


# Kolmogorov-Smirnov two-sample drift per source (Kolmogorov 1933;
# Smirnov 1939) — the ECDF companion to the Mann-Whitney screen: MW
# detects location shift, KS detects ANY distribution difference. The
# supremum is attained just after/before a jump of the source's own
# ECDF, so per source only its own points need evaluating (the scipy
# evaluation trick): with p_k the pooled rank of the source's k-th
# point, D = max_k max(k*n2 - (p_k-k)*n1, (p_k-k)*n1 - (k-1)*n2)
# / (n1*n2) — integer numerators, one final exact division, and the
# asymptotic z = sqrt(n1*n2/N)*D as the single milli-rounded float.
@query(
    "profile_ks_source_drift",
    oracle="""
    WITH ranked AS (
      SELECT source,
             CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
               AS p,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY n_chars, doc_id) AS BIGINT)
               AS k
      FROM documents
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ranked),
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n1,
             CAST(MAX(GREATEST(
               k * ((SELECT n FROM tot) - (SELECT CAST(COUNT(*) AS BIGINT)
                    FROM ranked r2 WHERE r2.source = ranked.source))
                 - (p - k) * (SELECT CAST(COUNT(*) AS BIGINT) FROM ranked r2
                              WHERE r2.source = ranked.source),
               (p - k) * (SELECT CAST(COUNT(*) AS BIGINT) FROM ranked r2
                          WHERE r2.source = ranked.source)
                 - (k - 1) * ((SELECT n FROM tot)
                              - (SELECT CAST(COUNT(*) AS BIGINT) FROM ranked
                                 r2 WHERE r2.source = ranked.source))
             )) AS BIGINT) AS d_num
      FROM ranked GROUP BY source
    )
    SELECT source, n1,
           CAST(1000 * d_num // (n1 * ((SELECT n FROM tot) - n1)) AS BIGINT)
             AS d_milli,
           CAST(ROUND(SQRT(CAST(n1 AS DOUBLE)
                           * ((SELECT n FROM tot) - n1)
                           / (SELECT n FROM tot))
                      * d_num / (n1 * ((SELECT n FROM tot) - n1))
                      * 1000) AS BIGINT) AS z_milli
    FROM per ORDER BY source
    """,
    tags=("llm", "quality", "eval"),
)
def profile_ks_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source two-sample KS statistic of document length vs the
    complement: D (milli) from exact-integer ECDF extremes and the
    asymptotic z = sqrt(n1*n2/N)*D (milli, the one float). One global
    rank + one per-source rank over the same sort order, then a keyed
    integer max — the supremum needs only the source's own jump points,
    so nothing materializes beyond the doc relation."""
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents").documents
    ranked = docs.select(
        "source",
        F.row_number()
        .over(Window.orderBy("n_chars", "doc_id"))
        .cast("long")
        .alias("p"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .cast("long")
        .alias("k"),
    )
    tot = ranked.agg(F.count(F.lit(1)).cast("long").alias("n"))
    sizes = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n1")
    )
    joined = ranked.join(F.broadcast(sizes), "source").crossJoin(
        F.broadcast(tot)
    )
    n2 = F.col("n") - F.col("n1")
    d_plus = F.col("k") * n2 - (F.col("p") - F.col("k")) * F.col("n1")
    d_minus = (F.col("p") - F.col("k")) * F.col("n1") - (
        F.col("k") - 1
    ) * n2
    per = joined.groupBy("source", "n1", "n").agg(
        F.max(F.greatest(d_plus, d_minus)).cast("long").alias("d_num")
    )
    denom = F.col("n1") * (F.col("n") - F.col("n1"))
    z = F.round(
        F.sqrt(
            F.col("n1").cast("double")
            * (F.col("n") - F.col("n1"))
            / F.col("n")
        )
        * F.col("d_num")
        / denom
        * 1000
    ).cast("long")
    return per.select(
        "source",
        "n1",
        idiv_col(F.lit(1000) * F.col("d_num"), denom).alias("d_milli"),
        z.alias("z_milli"),
    ).orderBy("source")


# Population Stability Index per source (the credit-scoring industry's
# standard drift metric — Siddiqi, "Credit Risk Scorecards", 2006;
# PSI = Σ_b (p_b - q_b)·ln(p_b/q_b), the symmetrized KL a score
# monitor alarms on at 0.1/0.25): the BINNED companion to the KS
# (any-difference), Mann-Whitney (location) and chi-square screens —
# PSI is what production monitoring dashboards actually threshold.
# Bins are the global length deciles (the registry's rank-statistic
# NTILE convention); empty cells take the Laplace add-one
# (p_b = (c_b+1)/(n+10)) so the log never blows — stated, not silent.
# Per-(source, bin) terms are micro-rounded BEFORE the sum (the KN
# per-position recipe: the total is an order-free integer sum).
@query(
    "profile_psi_source_drift",
    oracle="""
    WITH binned AS (
      SELECT source,
             NTILE(10) OVER (ORDER BY n_chars, doc_id) AS b
      FROM documents
    ),
    cells AS (
      SELECT source, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM binned GROUP BY source, b
    ),
    srcs AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n1 FROM cells GROUP BY source
    ),
    tots AS (
      SELECT b, CAST(SUM(c) AS BIGINT) AS tot FROM cells GROUP BY b
    ),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cells),
    grid AS (
      SELECT s.source, s.n1, t.b, t.tot, COALESCE(c.c, 0) AS c, n.nn
      FROM srcs s CROSS JOIN tots t CROSS JOIN n
      LEFT JOIN cells c ON c.source = s.source AND c.b = t.b
    ),
    terms AS (
      SELECT source, n1,
             CAST(ROUND((CAST(c + 1 AS DOUBLE) / (n1 + 10)
                         - CAST(tot - c + 1 AS DOUBLE) / (nn - n1 + 10))
                        * ln((CAST(c + 1 AS DOUBLE) / (n1 + 10))
                             / (CAST(tot - c + 1 AS DOUBLE)
                                / (nn - n1 + 10)))
                        * 1000000) AS BIGINT) AS term
      FROM grid
    )
    SELECT source, n1, CAST(SUM(term) AS BIGINT) AS psi_micro
    FROM terms GROUP BY source, n1 ORDER BY source
    """,
    tags=("llm", "quality", "eval"),
)
def profile_psi_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of each source's document-length distribution against its
    complement, over the global length deciles: per-cell add-one
    frequencies, one micro-rounded (p-q)·ln(p/q) term per cell, exact
    integer sum. Plan: one global decile window, one (source, bin)
    aggregate (source×10 cells), then everything lives on the 200-row
    grid — the dense source×bin cross join is two broadcast dimension
    relations, never doc grain."""
    docs = load_tables(spark, sf_dir, "documents").documents
    binned = docs.select(
        "source",
        F.ntile(10).over(Window.orderBy("n_chars", "doc_id")).alias("b"),
    )
    cells = binned.groupBy("source", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    srcs = cells.groupBy("source").agg(F.sum("c").cast("long").alias("n1"))
    tots = cells.groupBy("b").agg(F.sum("c").cast("long").alias("tot"))
    n = cells.agg(F.sum("c").cast("long").alias("nn"))
    grid = (
        srcs.crossJoin(F.broadcast(tots))
        .crossJoin(F.broadcast(n))
        .join(cells, ["source", "b"], "left")
        .select(
            "source",
            "n1",
            "tot",
            "nn",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    p = (F.col("c") + 1).cast("double") / (F.col("n1") + 10)
    q = (F.col("tot") - F.col("c") + 1).cast("double") / (
        F.col("nn") - F.col("n1") + 10
    )
    term = F.round((p - q) * F.log(p / q) * 1_000_000).cast("long")
    return (
        grid.select("source", "n1", term.alias("term"))
        .groupBy("source", "n1")
        .agg(F.sum("term").cast("long").alias("psi_micro"))
        .orderBy("source")
    )
