"""Round-6 operator waves.

Wave 1 — exact-substring dedup at suffix-array grain (r5 judge task #7):

- ``dedup_exact_substring_spans`` — every MAXIMAL duplicated token span of
  length >= L with provably exact boundaries (start, length, weakest
  corpus-wide occurrence count, md5 of the span text) — the artifact a
  100 TB dedup pass persists and audits.
- ``dedup_span_removal_exact`` — the cut at those exact boundaries; short
  incidental 3-gram echoes survive, long boilerplate is removed edge-true.

Wave 2 — engagement curves, fulfillment bands, value segmentation, graph
cores, weighted sampling:

- ``events_dau_mau_stickiness`` / ``events_cumulative_new_users`` — the
  engagement-health ratio and the acquisition curve (bounded ×28 explode
  for sliding distinct; days-sized running sum).
- ``orders_ship_latency_histogram`` — order-to-ship SLA bands off one
  natural-key join.
- ``customer_spend_quartiles`` — NTILE(4) CLV segmentation, deterministic
  tie-break, window over the customer dimension only.
- ``graph_kcore_peel`` — fixed-round k-core peel over the near-dup graph
  (unrolled MATERIALIZED-CTE oracle; without MATERIALIZED the chain
  re-inlines the all-pairs Jaccard join 3^rounds times and OOMs DuckDB).
- ``curation_quality_weighted_sample`` — per-band deterministic keep via
  the portable md5 bucket (hash_split convention).

House rules (llm_ops.py): integer fixed-point only, deterministic
ordering, every aggregate aliased identically in Spark and the DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_tables
from .llm_ops import (
    DUCK_SHINGLE_SETS,
    DUCK_SPAN_REMOVAL_TAIL,
    NEAR_DUP_PAIRS,
    UNDIRECTED_EDGES,
    near_dup_pairs_sql,
)
from .registry import query

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


# ---------------------------------------------------------------------------
# Round-6 wave 2: engagement curves, order-latency bands, value quartiles,
# k-core peel, weighted sampling
# ---------------------------------------------------------------------------


@query(
    "events_dau_mau_stickiness",
    oracle="""
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), dau AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM days GROUP BY d
    ), contrib AS (
      SELECT DISTINCT d + CAST(offs AS INTEGER) AS window_end, user_id
      FROM days, (SELECT unnest(generate_series(0, 27)) AS offs)
    ), mau AS (
      SELECT window_end AS d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM contrib GROUP BY 1
    )
    SELECT CAST(dau.d AS TIMESTAMP) AS day, dau.dau, mau.mau,
           CAST(FLOOR(1000.0 * dau.dau / mau.mau) AS BIGINT)
             AS stickiness_permille
    FROM dau JOIN mau ON mau.d = dau.d
    ORDER BY day
    """,
    tags=("llm", "events", "window"),
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the engagement-health ratio product
    analytics reports next to the active-user curves. MAU uses a trailing
    28-day frame; COUNT(DISTINCT) over a sliding window cannot merge
    partial states, so each (day, user) pair is exploded to the ≤ 28
    window-ends it supports (bounded 28× the daily-distinct relation,
    the events_rolling_7d_actives pattern) and one day-keyed distinct
    count finishes MAU. Days are restricted to observed DAU days (an
    inner join), so no trailing padding appears. Integer permille.

    Plan: map-side (day,user) dedup → one day-keyed count (DAU) + ×28
    projection explode → (day,user)-keyed distinct + count (MAU) → join
    on the ≤ |days| relation. Linear in events; no event self-join."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, "events")
    days = t.events.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    dau = days.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    mau = (
        days.select(
            F.explode(F.sequence(F.lit(0), F.lit(27))).alias("offs"), "d", "user_id"
        )
        .select(F.date_add(F.col("d"), F.col("offs")).alias("d"), "user_id")
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("long").alias("mau"))
    )
    return (
        dau.join(mau, "d")
        .select(
            F.col("d").cast("timestamp").alias("day"),
            "dau",
            "mau",
            F.floor(F.lit(1000.0) * F.col("dau") / F.col("mau"))
            .cast("long")
            .alias("stickiness_permille"),
        )
        .orderBy("day")
    )


@query(
    "events_cumulative_new_users",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events
      GROUP BY user_id
    ), news AS (
      SELECT first_day AS d, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY 1
    )
    SELECT CAST(d AS TIMESTAMP) AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY d) AS BIGINT) AS cum_users
    FROM news ORDER BY day
    """,
    tags=("llm", "events", "window"),
)
def events_cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-user acquisition curve: first-seen day per user, daily new-user
    counts, and the cumulative registration curve. The total-order running
    sum runs over the ≤ |distinct days| relation (a few thousand rows at
    ANY corpus size — the events_day_over_day_growth bound), never over
    users or events; the user-keyed min is an ordinary partial-aggregable
    groupBy. Linear in events."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "events")
    firsts = t.events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d")
    )
    news = firsts.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    return news.select(
        F.col("d").cast("timestamp").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    ).orderBy("day")


@query(
    "orders_ship_latency_histogram",
    oracle="""
    WITH lat AS (
      SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), banded AS (
      SELECT CASE WHEN days <= 7 THEN '0-7'
                  WHEN days <= 30 THEN '08-30'
                  WHEN days <= 90 THEN '31-90'
                  ELSE '91+' END AS band,
             days
      FROM lat
    ), g AS (
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(MIN(days) AS BIGINT) AS min_days,
             CAST(MAX(days) AS BIGINT) AS max_days
      FROM banded GROUP BY band
    )
    SELECT band, n_items, min_days, max_days,
           CAST(FLOOR(1000.0 * n_items / SUM(n_items) OVER ()) AS BIGINT)
             AS share_permille
    FROM g ORDER BY band
    """,
    tags=("relational", "window"),
)
def orders_ship_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution in operational bands — the
    fulfillment-SLA histogram. One orderkey-keyed shuffle join (lineitem ×
    orders, both sides pruned to two columns), a pure-projection banding,
    a 4-row aggregate, and the share window over those 4 rows. The only
    data-sized operation is the join, keyed on the natural key."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "lineitem", "orders")
    lat = t.lineitem.select("l_orderkey", "l_shipdate").join(
        t.orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("days")
    )
    banded = lat.select(
        F.when(F.col("days") <= 7, "0-7")
        .when(F.col("days") <= 30, "08-30")
        .when(F.col("days") <= 90, "31-90")
        .otherwise("91+")
        .alias("band"),
        "days",
    )
    g = banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.min("days").cast("long").alias("min_days"),
        F.max("days").cast("long").alias("max_days"),
    )
    return g.select(
        "band",
        "n_items",
        "min_days",
        "max_days",
        F.floor(
            F.lit(1000.0) * F.col("n_items") / F.sum("n_items").over(W.partitionBy())
        )
        .cast("long")
        .alias("share_permille"),
    ).orderBy("band")


@query(
    "customer_spend_quartiles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS spend_cents
      FROM orders GROUP BY o_custkey
    ), q AS (
      SELECT o_custkey, spend_cents,
             NTILE(4) OVER (ORDER BY spend_cents DESC, o_custkey) AS quartile
      FROM spend
    )
    SELECT CAST(quartile AS BIGINT) AS quartile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(spend_cents) AS BIGINT) AS total_cents,
           CAST(MIN(spend_cents) AS BIGINT) AS min_cents,
           CAST(MAX(spend_cents) AS BIGINT) AS max_cents
    FROM q GROUP BY quartile ORDER BY quartile
    """,
    tags=("relational", "window"),
)
def customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value quartiles (the CLV segmentation cut): per-customer
    order spend in integer cents, NTILE(4) over (spend DESC, custkey) —
    fully deterministic tie-break — then per-quartile counts and bounds.
    The NTILE window totally orders the CUSTOMER dimension (the same
    dimension-sized bound the Pareto/Gini/rank-normalize family
    documents); order facts never enter the window, only the one
    custkey-keyed partial-aggregable sum."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    spend = t.orders.groupBy("o_custkey").agg(
        F.sum(cents).cast("long").alias("spend_cents")
    )
    q = spend.select(
        "spend_cents",
        F.ntile(4)
        .over(W.orderBy(F.col("spend_cents").desc(), F.col("o_custkey")))
        .alias("quartile"),
    )
    return (
        q.groupBy("quartile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("spend_cents").cast("long").alias("total_cents"),
            F.min("spend_cents").cast("long").alias("min_cents"),
            F.max("spend_cents").cast("long").alias("max_cents"),
        )
        .select(
            F.col("quartile").cast("long").alias("quartile"),
            "n_customers",
            "total_cents",
            "min_cents",
            "max_cents",
        )
        .orderBy("quartile")
    )


# ------------------------------------------------------- k-core graph peel

_KCORE_K = 2
_KCORE_ROUNDS = 4


def _build_kcore_oracle() -> str:
    rounds = []
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
    keep{r} AS MATERIALIZED (
      SELECT u FROM e{r-1} GROUP BY u HAVING COUNT(*) >= {_KCORE_K}
    ), e{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{r-1} e
      JOIN keep{r} ku ON ku.u = e.u
      JOIN keep{r} kv ON kv.u = e.v
    )""")
    return f"""
    WITH {DUCK_SHINGLE_SETS},
    pairs AS MATERIALIZED (
      {NEAR_DUP_PAIRS}
    ),
    e0 AS MATERIALIZED ({UNDIRECTED_EDGES}),
    {",".join(rounds)}
    SELECT u AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e{_KCORE_ROUNDS} GROUP BY u ORDER BY doc_id"""


@query(
    "graph_kcore_peel",
    oracle=_build_kcore_oracle(),
    tags=("llm", "dedup", "graph"),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peel over the near-dup graph (k=2, 4 synchronous peel
    rounds): nodes whose degree drops below k are removed each round,
    edges to removed nodes disappear with them — isolating the densely
    interlinked template/boilerplate families that pairwise thresholds
    can't separate from incidental one-off matches (Batagelj & Zaveršnik
    2003's cores algorithm, unrolled to a fixed round count so the
    DuckDB replay is an exact CTE chain, the pagerank_fixed convention).
    Output = surviving (doc_id, degree-in-peeled-graph).

    Plan: the LSH pair list symmetrized with the single-pass explode,
    checkpointed ONCE (graph-sized); each round is one u-keyed count +
    two semi-joins against the ≤ |nodes| keep set — every shuffle is
    graph-sized, the corpus is never touched after candidate
    generation."""
    from pyspark.sql import functions as F

    from ..operators import dedup as D

    docs = load_tables(spark, sf_dir, "documents").documents
    pairs = D.minhash_lsh_dedup(docs, threshold=0.5).select("doc_a", "doc_b")
    e = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
                    F.struct(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")),
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .localCheckpoint(eager=True)
    )
    for _ in range(_KCORE_ROUNDS):
        keep = (
            e.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("u")
        )
        e = (
            e.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    return (
        e.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .select(F.col("u").alias("doc_id"), "degree")
        .orderBy("doc_id")
    )


def _build_weighted_sample_oracle() -> str:
    from ..operators.curation import duck_split_bucket

    return f"""
    WITH banded AS (
      SELECT doc_id, n_chars,
             CASE WHEN n_chars >= 350 THEN 'long'
                  WHEN n_chars >= 200 THEN 'medium'
                  ELSE 'short' END AS band,
             CASE WHEN n_chars >= 350 THEN 8000
                  WHEN n_chars >= 200 THEN 5000
                  ELSE 2000 END AS keep_thresh,
             {duck_split_bucket('doc_id')} AS bucket
      FROM documents
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN bucket < keep_thresh THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN bucket < keep_thresh THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_kept
    FROM banded
    GROUP BY band ORDER BY band
    """


@query(
    "curation_quality_weighted_sample",
    oracle=_build_weighted_sample_oracle(),
    tags=("llm", "curation"),
)
def curation_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: long documents keep at
    80 %, medium at 50 %, short at 20 % — the keep/drop decision is a
    pure projection (portable md5 bucket vs a per-band threshold, the
    curation_hash_split convention), so the sample is reproducible under
    re-runs, repartitioning, and engine swaps, and composes with the
    leakage-safe split. Reports per-band totals, kept counts, and kept
    chars. Zero shuffle before the 3-row aggregate."""
    from pyspark.sql import functions as F

    from ..operators.curation import split_bucket

    docs = load_tables(spark, sf_dir, "documents").documents
    banded = docs.select(
        "doc_id",
        "n_chars",
        F.when(F.col("n_chars") >= 350, "long")
        .when(F.col("n_chars") >= 200, "medium")
        .otherwise("short")
        .alias("band"),
        F.when(F.col("n_chars") >= 350, 8000)
        .when(F.col("n_chars") >= 200, 5000)
        .otherwise(2000)
        .alias("keep_thresh"),
        split_bucket("doc_id").alias("bucket"),
    )
    kept = (F.col("bucket") < F.col("keep_thresh")).cast("long")
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.sum(F.col("n_chars") * kept).cast("long").alias("chars_kept"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Round-6 wave 3: MinHash estimator eval, embedding drift, vocab coverage,
# seasonality residuals, price index
# ---------------------------------------------------------------------------


def _build_minhash_estimate_oracle() -> str:
    # RECALL COUPLING (r6 ADVICE — triage note for a future red row):
    # this oracle enumerates ALL shingle-sharing pairs with J >= 0.5,
    # while the Spark side enumerates only LSH candidate pairs (24x6
    # banding). They agree iff LSH recall is 1000 permille on the
    # corpus — currently pinned by ``dedup_lsh_recall_eval``. If this
    # query ever goes red with the Spark side MISSING rows, re-run the
    # recall eval first: a recall drop below 1000‰ is the expected
    # cause, not an engine bug (the dedup_lsh_recall_eval
    # red-row-means-recompute-recall convention).
    from ..operators.dedup import MINHASH_AB, MOD, N_MINHASH
    from ..operators.text import duck_char_fold

    mins = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {MOD}) AS m{j}"
        for j, (a, b) in enumerate(MINHASH_AB)
    )
    matches = " + ".join(
        f"CAST(sa.m{j} = sb.m{j} AS BIGINT)" for j in range(N_MINHASH)
    )
    return f"""
    WITH {DUCK_SHINGLE_SETS},
    h AS (SELECT doc_id, {duck_char_fold('sh')} AS h FROM ds),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM h GROUP BY doc_id
    ),
    pairs AS (
      {near_dup_pairs_sql('doc_a, doc_b, inter, sa.n AS na, sb.n AS nb')}
    )
    SELECT p.doc_a, p.doc_b,
           CAST(FLOOR(1000.0 * p.inter / (p.na + p.nb - p.inter)) AS BIGINT)
             AS exact_permille,
           CAST(FLOOR(1000.0 * ({matches}) / {N_MINHASH}) AS BIGINT)
             AS est_permille,
           CAST(ABS(CAST(FLOOR(1000.0 * p.inter / (p.na + p.nb - p.inter)) AS BIGINT)
                  - CAST(FLOOR(1000.0 * ({matches}) / {N_MINHASH}) AS BIGINT))
                AS BIGINT) AS abs_err_permille
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    ORDER BY p.doc_a, p.doc_b
    """


@query(
    "dedup_minhash_estimate_error",
    oracle=_build_minhash_estimate_oracle(),
    tags=("llm", "dedup", "eval"),
)
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration eval: for every verified near-dup
    pair, the signature-agreement Jaccard estimate (matches/24, permille)
    against the exact shared-shingle Jaccard — the measurement that tells
    you whether 24 hashes are enough BEFORE trusting estimate-ranked
    dedup decisions at scale (E[est] = J; with 24 hashes the std-dev at
    J=0.5 is ~0.10, so per-pair errors of 100-200 permille are expected
    and the eval makes that visible instead of folklore). The DuckDB
    oracle replays the ENTIRE permutation family ((a_j*h+b_j) mod p over
    the same char-fold shingle hash) — the estimator itself is
    cross-engine-verified, not just the exact side.

    Plan: the shared (id, shingle) relation feeds both the signature
    groupBy (24 min-aggregates in one pass) and the candidate
    verification join — one explode, two keyed shuffles; pair volume is
    the LSH candidate set (recall pinned at 1000 permille on this corpus
    by dedup_lsh_recall_eval)."""
    from pyspark.sql import functions as F

    from ..operators.dedup import (
        N_MINHASH,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
    )

    docs = load_tables(spark, sf_dir, "documents").documents
    # No .cache() here (r6 ADVICE: a plan-builder's cache is never
    # unpersisted and accumulates across invocations in a long session).
    # The shingle relation fans into the signature groupBy and both join
    # sides; Spark's ReusedExchange covers the identical subtrees, and
    # the explode itself is cheap relative to a leaked cached relation.
    ds = shingle_sets(docs)
    sigs = minhash_signatures(docs, shingle_df=ds)
    cands = lsh_candidate_pairs(sigs)
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = ds.select(F.col("doc_id").alias("doc_a"), "sh")
    b = ds.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    pairs = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter"))
            >= 0.5
        )
    )
    siga = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sigb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    exact_pm = F.floor(
        F.lit(1000.0) * F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    ).cast("long")
    est_pm = F.floor(F.lit(1000.0) * matches / F.lit(N_MINHASH)).cast("long")
    return (
        pairs.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            exact_pm.alias("exact_permille"),
            est_pm.alias("est_permille"),
            F.abs(exact_pm - est_pm).cast("long").alias("abs_err_permille"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "embedding_centroid_shift_by_label",
    oracle="""
    WITH m AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label,
             generate_subscripts(embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS xm
      FROM embeddings
    ), lp AS (
      SELECT label, pos, SUM(xm) AS s, COUNT(*) AS n
      FROM m GROUP BY label, pos
    ), g AS (
      SELECT pos, CAST(FLOOR(SUM(s) * 1.0 / SUM(n)) AS BIGINT) AS gm
      FROM lp GROUP BY pos
    ), cl AS (
      SELECT label, pos, CAST(FLOOR(s * 1.0 / n) AS BIGINT) AS lm, n
      FROM lp
    )
    SELECT cl.label,
           CAST(MIN(cl.n) AS BIGINT) AS n_vecs,
           CAST(SUM((cl.lm - g.gm) * (cl.lm - g.gm)) AS BIGINT) AS shift_sq
    FROM cl JOIN g USING (pos)
    GROUP BY cl.label ORDER BY cl.label
    """,
    tags=("llm", "embedding"),
)
def embedding_centroid_shift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding drift audit: squared distance between each
    label's centroid and the corpus centroid, in micro-unit fixed point —
    the screen for 'one class embeds somewhere else entirely' (an encoder
    version mix or a label leak) run before trusting per-class retrieval
    eval. Engine-exact by the embedding_outlier_centroid convention:
    components quantized to floor(x·1e6) BIGINT first, centroids are
    floor(Σ/n) per dimension, distances pure BIGINT sums.

    Plan: one posexplode → one (label, pos)-keyed partial-agg shuffle
    (labels × d rows); the global centroid derives from the SAME
    aggregate (a second d-row agg, no second pass over vectors); one
    labels×d join + label-keyed sum. No collects at all — fully
    distributed, geometry-bounded end to end."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, "embeddings")
    micro = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )
    m = t.embeddings.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode(micro).alias("pos", "xm"),
    )
    lp = m.groupBy("label", "pos").agg(
        F.sum("xm").alias("s"), F.count(F.lit(1)).alias("n")
    )
    g = lp.groupBy("pos").agg(
        F.floor(F.sum("s") * F.lit(1.0) / F.sum("n")).cast("long").alias("gm")
    )
    cl = lp.select(
        "label", "pos",
        F.floor(F.col("s") * F.lit(1.0) / F.col("n")).cast("long").alias("lm"),
        "n",
    )
    return (
        cl.join(g, "pos")
        .groupBy("label")
        .agg(
            F.min("n").cast("long").alias("n_vecs"),
            F.sum((F.col("lm") - F.col("gm")) * (F.col("lm") - F.col("gm")))
            .cast("long")
            .alias("shift_sq"),
        )
        .orderBy("label")
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


@query(
    "events_weekday_seasonality_residual",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ), wd AS (
      SELECT isodow(d) AS dow, SUM(n) AS wd_total,
             CAST(COUNT(*) AS BIGINT) AS wd_days
      FROM daily GROUP BY 1
    )
    SELECT CAST(daily.d AS TIMESTAMP) AS day,
           CAST(isodow(daily.d) AS BIGINT) AS dow,
           daily.n AS n_events,
           CAST(FLOOR(1000.0 * daily.n * wd.wd_days / wd.wd_total) AS BIGINT)
             AS index_permille
    FROM daily JOIN wd ON wd.dow = isodow(daily.d)
    ORDER BY day
    """,
    tags=("llm", "events", "window"),
)
def events_weekday_seasonality_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-weekday seasonal index per day: each day's event count
    against the average for its weekday (1000 = exactly on-trend) — the
    de-seasonalized residual that makes a Tuesday dip visible next to
    the weekend cycle, and the input an alerting rule thresholds instead
    of raw counts. Single-division fixed point (n·days/total) so no
    double rounding.

    Plan: one day-keyed count (map-side partials), a ≤7-row weekday
    baseline, one broadcast join back over the ≤|days| relation. Linear
    in events, constant everything after."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, "events")
    daily = t.events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # Spark weekday(): 0=Mon..6=Sun; +1 == DuckDB isodow (1=Mon..7=Sun)
    dow = (F.weekday(F.col("d")) + 1).cast("long")
    wd = daily.groupBy(dow.alias("dow")).agg(
        F.sum("n").alias("wd_total"), F.count(F.lit(1)).cast("long").alias("wd_days")
    )
    return (
        daily.select(F.col("d"), dow.alias("dow"), "n")
        .join(F.broadcast(wd), "dow")
        .select(
            F.col("d").cast("timestamp").alias("day"),
            "dow",
            F.col("n").alias("n_events"),
            F.floor(
                F.lit(1000.0) * F.col("n") * F.col("wd_days") / F.col("wd_total")
            )
            .cast("long")
            .alias("index_permille"),
        )
        .orderBy("day")
    )


@query(
    "part_brand_price_index",
    oracle="""
    WITH cents AS (
      SELECT p_brand,
             CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS c
      FROM part
    ), b AS (
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(SUM(c) AS BIGINT) AS sum_cents
      FROM cents GROUP BY p_brand
    ), tot AS (
      SELECT SUM(sum_cents) AS ts, SUM(n_parts) AS tn FROM b
    )
    SELECT b.p_brand AS brand, b.n_parts,
           CAST(FLOOR(b.sum_cents * 1.0 / b.n_parts) AS BIGINT) AS avg_cents,
           CAST(FLOOR(1000.0 * b.sum_cents * tot.tn / (b.n_parts * tot.ts))
                AS BIGINT) AS index_permille
    FROM b, tot ORDER BY brand
    """,
    tags=("relational",),
)
def part_brand_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand price index: each brand's average retail price relative to
    the catalog average (1000 = at parity) — the assortment-pricing
    report. Integer cents; the index is a single division of integer
    cross-products so both engines floor the same rational.

    Plan: one brand-keyed partial-agg count/sum, a 1-row total derived
    from the brand relation (never a second scan), broadcast back. The
    only data-sized pass is the scan."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "part")
    cents = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long")
    b = t.part.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(cents).cast("long").alias("sum_cents"),
    )
    w = W.partitionBy()
    return b.select(
        F.col("p_brand").alias("brand"),
        "n_parts",
        F.floor(F.col("sum_cents") * F.lit(1.0) / F.col("n_parts"))
        .cast("long")
        .alias("avg_cents"),
        F.floor(
            F.lit(1000.0)
            * F.col("sum_cents")
            * F.sum("n_parts").over(w)
            / (F.col("n_parts") * F.sum("sum_cents").over(w))
        )
        .cast("long")
        .alias("index_permille"),
    ).orderBy("brand")
