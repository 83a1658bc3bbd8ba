"""Round-5 operator wave 2: the dedup *finishers* and audit reports a
training-data pipeline runs after near-dup detection, plus embedding-QA
and marketing-style attribution over the events stream.

- ``dedup_keep_longest_per_cluster`` — the actual corpus reduction: one
  representative per near-dup family, keep-rule = longest text (the
  RefinedWeb/Dolma convention), deterministic tie-break.
- ``dedup_rate_by_source`` — the per-source duplication report read before
  re-weighting a source mix (a source that is 40 % near-dups contributes
  far fewer effective tokens than its raw count suggests).
- ``embedding_outlier_centroid`` — distance-to-centroid audit in integer
  fixed-point: flags mis-embedded / out-of-distribution vectors before
  they poison ANN training or retrieval eval.
- ``events_last_touch_attribution`` — last-touch conversion attribution
  within a 7-day window, the canonical funnel-credit query.

House rules (llm_ops.py): integer fixed-point wherever a float sum's
addition ORDER could differ between engines; collects bounded by geometry
(here: d = embedding dims), never row count; cluster relations reuse the
exact-Jaccard recursive-CTE oracle of ``dedup_clusters`` so the keep-rule
is checked end-to-end, not against a re-derived pair list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import curation as C
from ..operators import dedup as D
from ..operators import graph as G
from ..operators import quality as Q
from ..operators import similarity as S
from ..operators import text as T
from ..sources.tables import load_tables
from .llm_ops import (
    DUCK_SHINGLE_SETS,
    NEAR_DUP_CLUSTERS,
    NEAR_DUP_PAIRS,
    _duck_cosine,
    shingle_overlap_sql,
)
from .registry import query

#: The exact-Jaccard >= 0.5 near-dup cluster assignment as a DuckDB CTE
#: chain (shared by both dedup finishers below; identical to the
#: ``dedup_clusters`` oracle in llm_ops2.py, kept verbatim so the two
#: relations can never drift apart).
_DUCK_CLUSTERS = f"""
    {NEAR_DUP_CLUSTERS},
    asg AS (
      SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster_id,
             d.n_chars, d.source
      FROM documents d LEFT JOIN lbls l ON l.node = d.doc_id
    )
"""


def _cluster_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`keep_longest_verdict` over the sf_dir's documents table."""
    return keep_longest_verdict(load_tables(spark, sf_dir, "documents").documents)


def keep_longest_verdict(docs: DataFrame) -> DataFrame:
    """Every row of ``docs`` (doc_id, text, n_chars, source) with its
    near-dup cluster id, cluster size, and the keep-longest verdict. One
    LSH pass + CC rounds (both existing primitives), then a single
    cluster-keyed window shuffle carrying both the size count and the
    keep rank — rule: max ``n_chars``, tie-break min ``doc_id``
    (deterministic under any partitioning)."""
    pairs = D.minhash_lsh_dedup(docs, threshold=0.5).select("doc_a", "doc_b")
    clustered = G.dedup_clusters(docs, pairs)
    j = clustered.join(docs.select("doc_id", "n_chars", "source"), "doc_id")
    part = Window.partitionBy("cluster_id")
    w = part.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return j.select(
        "doc_id",
        "cluster_id",
        "source",
        F.count(F.lit(1)).over(part).cast("long").alias("cluster_size"),
        (F.row_number().over(w) == 1).alias("kept"),
    )


@query(
    "dedup_keep_longest_per_cluster",
    oracle=f"""
    WITH RECURSIVE {_DUCK_CLUSTERS}
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           (ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY n_chars DESC, doc_id) = 1) AS kept
    FROM asg ORDER BY doc_id
    """,
    tags=("llm", "dedup", "curation"),
)
def dedup_keep_longest_per_cluster(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The dedup *finisher*: turn near-dup clusters into an actual corpus
    cut by keeping exactly one representative per family — the LONGEST
    document (RefinedWeb's keep-rule; a longer near-dup usually strictly
    contains the shorter boilerplate variant), tie-broken by min doc_id so
    the verdict is reproducible under re-runs and repartitioning. Emits
    the full per-doc verdict relation (doc_id, cluster_id, cluster_size,
    kept) rather than only survivors, because real pipelines both filter
    on ``kept`` and audit what was dropped.

    Plan: MinHash-LSH pairs → hash-min CC (the existing primitives; their
    shuffles are keyed by shingle hash / node id and scale with near-dup
    mass) → ONE additional cluster-keyed window shuffle carrying the size
    count and the keep rank together. Cluster populations are near-dup
    family sizes — bounded by content duplication, not corpus size — so
    the window never sees a heavy hitter worse than the dup family itself.
    At 100 TB every stage is the same equi-join/window shape; nothing
    collects to the driver."""
    return _cluster_keep_longest(spark, sf_dir).select(
        "doc_id", "cluster_id", "cluster_size", "kept"
    ).orderBy("doc_id")


@query(
    "dedup_rate_by_source",
    oracle=f"""
    WITH RECURSIVE {_DUCK_CLUSTERS},
    verdict AS (
      SELECT source,
             (ROW_NUMBER() OVER (PARTITION BY cluster_id
                                 ORDER BY n_chars DESC, doc_id) = 1) AS kept
      FROM asg
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
             AS n_removed,
           CAST(FLOOR(1000.0 * SUM(CASE WHEN kept THEN 0 ELSE 1 END)
                      / COUNT(*)) AS BIGINT) AS dup_permille
    FROM verdict GROUP BY source ORDER BY source
    """,
    tags=("llm", "dedup", "profile"),
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report: how many documents each source
    loses to the keep-longest cut, as count + integer permille. This is
    the table read before re-weighting a source mixture — a source that
    is 40 % near-dups contributes far fewer effective tokens than its raw
    document count suggests (and heavy cross-source duplication shows up
    as removals landing on whichever source drew the shorter copy).

    Plan: the keep-longest verdict relation (see
    ``dedup_keep_longest_per_cluster``) followed by one source-keyed
    partial-agg shuffle — the exchange carries ≤ |sources| × partitions
    rows. dup_permille = floor(1000·removed/n) is exact integer fixed
    point, so the DuckDB replay hashes bit-for-bit."""
    v = _cluster_keep_longest(spark, sf_dir)
    removed = F.sum(F.when(F.col("kept"), 0).otherwise(1))
    return (
        v.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            removed.cast("long").alias("n_removed"),
            F.floor(
                1000.0 * removed / F.count(F.lit(1))
            ).cast("long").alias("dup_permille"),
        )
        .orderBy("source")
    )


@query(
    "embedding_outlier_centroid",
    oracle="""
    WITH m AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS xm
      FROM embeddings
    ),
    cent AS (
      SELECT pos, CAST(FLOOR(SUM(xm) * 1.0 / COUNT(*)) AS BIGINT) AS mm
      FROM m GROUP BY pos
    ),
    d AS (
      SELECT vec_id, CAST(SUM((xm - mm) * (xm - mm)) AS BIGINT) AS dist_sq
      FROM m JOIN cent USING (pos) GROUP BY vec_id
    )
    SELECT d.vec_id, d.dist_sq, CAST(e.label AS BIGINT) AS label
    FROM d JOIN embeddings e USING (vec_id)
    ORDER BY dist_sq DESC, vec_id LIMIT 20
    """,
    tags=("llm", "embedding", "similarity"),
)
def embedding_outlier_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-QA outlier audit: top-20 vectors by squared distance to
    the corpus centroid — the cheap screen for mis-embedded rows (zero
    vectors, wrong-model leftovers, OOD content) run before an embedding
    column is trusted for ANN training or retrieval eval.

    Engine-exact by integer fixed-point: components become
    floor(double(x)·1e6) BIGINT micros (float32→double is value-exact and
    the multiply is one IEEE op in both engines), the centroid is
    floor(Σ/n) per dimension (Σ < 2^53 at any tested sf, so the double
    quotient is exact to well past the floor boundary — the quotient is
    ≥ 1/n away from an integer unless exact), and distances are pure
    BIGINT sums (|diff| ~ 1e6, squared 1e12, × d=64 ≈ 6e13 — no overflow).
    No float accumulation order anywhere.

    Plan: per-dim sums via posexplode + ONE dim-keyed partial-agg shuffle
    (the exchange carries d × partitions rows); the d-row centroid is a
    geometry-bounded collect embedded as an array literal (the gate-pinned
    quantizer pattern, llm_ops.py); distance is then a map-only zip_with
    fold inside codegen and top-20 is TakeOrdered — per-partition heaps,
    never a global sort. At 100 TB the only shuffle still carries d rows
    per partition."""
    t = load_tables(spark, sf_dir, "embeddings")
    micro = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )
    m = t.embeddings.select(
        "vec_id", F.col("label").cast("long").alias("label"),
        micro.alias("xm"),
    )
    sums = (
        m.select(F.posexplode("xm").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # d rows (embedding dims), never row count: floor division on Python
    # ints == floor(Σ/n) exactly, including negative sums.
    mean = [int(r["s"]) // int(r["n"]) for r in sorted(sums, key=lambda r: r["pos"])]
    mean_lit = F.array(*[F.lit(v).cast("long") for v in mean])
    dist = F.aggregate(
        F.zip_with("xm", mean_lit, lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        m.select("vec_id", dist.alias("dist_sq"), "label")
        .orderBy(F.desc("dist_sq"), F.asc("vec_id"))
        .limit(20)
    )


@query(
    "events_last_touch_attribution",
    oracle="""
    WITH touched AS (
      SELECT event_id, user_id, ts, event_type,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts END
                        IGNORE NULLS)
               OVER w AS touch_ts,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type
                        END IGNORE NULLS)
               OVER w AS touch_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    attributed AS (
      SELECT CASE WHEN touch_ts IS NOT NULL
                       AND touch_ts >= ts - INTERVAL 7 DAY
                  THEN touch_type ELSE 'direct' END AS attributed_type,
             user_id
      FROM touched WHERE event_type = 'purchase'
    )
    SELECT attributed_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM attributed GROUP BY attributed_type ORDER BY attributed_type
    """,
    tags=("llm", "events"),
)
def events_last_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch conversion attribution: each purchase is credited to the
    user's most recent NON-purchase event within the preceding 7 days
    ('direct' when none) — the canonical funnel-credit query every
    events warehouse runs. Deterministic: the event order is (ts,
    event_id), so same-timestamp events attribute identically in any
    engine.

    Plan: one user-keyed window shuffle computes the last-preceding-touch
    (ts, type) pair — ``last(when(...), ignorenulls=True)`` over a
    1-preceding frame, two columns from the SAME row because the CASE
    condition drives both nullities — then a purchase filter and one
    attributed-type-keyed agg whose exchange carries ≤ |event types| ×
    partitions rows. Per-user event counts bound the window state; no
    self-join, no driver collection."""
    t = load_tables(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    not_purchase = F.col("event_type") != "purchase"
    touch_ts = F.last(
        F.when(not_purchase, F.col("ts")), ignorenulls=True
    ).over(w)
    touch_type = F.last(
        F.when(not_purchase, F.col("event_type")), ignorenulls=True
    ).over(w)
    touched = t.events.select(
        "event_id", "user_id", "ts", "event_type",
        touch_ts.alias("touch_ts"), touch_type.alias("touch_type"),
    ).filter(F.col("event_type") == "purchase")
    attributed = touched.select(
        F.when(
            F.col("touch_ts").isNotNull()
            & (F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAY")),
            F.col("touch_type"),
        ).otherwise(F.lit("direct")).alias("attributed_type"),
        "user_id",
    )
    return (
        attributed.groupBy("attributed_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("attributed_type")
    )


# ------------------------------------------------- wave 3: audits & budgets


@query(
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE {_DUCK_CLUSTERS},
    cs AS (SELECT cluster_id, COUNT(*) AS sz FROM asg GROUP BY cluster_id)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM cs GROUP BY sz ORDER BY sz
    """,
    tags=("llm", "dedup", "profile"),
)
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup family-size histogram — the figure every dedup paper
    prints (Lee et al. 2021 fig. 1 family): how many clusters of each
    size, and how many documents they absorb. A long tail of giant
    families means boilerplate; mass at size 1 means the corpus is
    already clean. Reads the SAME cluster relation as the keep-rule
    queries, so the histogram always reconciles with the cut.

    Plan: CC output → one cluster-keyed count → one size-keyed count;
    each successive exchange is strictly smaller (docs → clusters →
    distinct sizes). Nothing collects."""
    t = load_tables(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(t.documents, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    clustered = G.dedup_clusters(t.documents, pairs)
    cs = clustered.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        cs.groupBy("sz")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
        )
        .select(
            F.col("sz").cast("long").alias("cluster_size"),
            "n_clusters",
            "n_docs",
        )
        .orderBy("cluster_size")
    )


#: Per-source whitespace-token budget for the mixture query below. At the
#: gate sf (0.01: ~250 docs x ~45 tokens per source) the budget cuts each
#: source to roughly its first ~18 hash-ordered documents; at sf0.001 most
#: of each source fits. The crossing document is NOT kept (<= budget rule),
#: but rank 1 always is, so a source whose first draw is a 900-token
#: monster still contributes it.
_TOKEN_BUDGET = 800


@query(
    "curation_token_budget_mixture",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens,
             {T.duck_char_fold("md5('budget' || CAST(doc_id AS VARCHAR))")}
               AS rk
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY rk, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY rk, doc_id)
               AS rnk
      FROM d
    )
    SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
    FROM c WHERE cum <= {_TOKEN_BUDGET} OR rnk = 1
    ORDER BY source, cum_tokens, doc_id
    """,
    tags=("llm", "curation"),
)
def curation_token_budget_mixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-budget mixture sampling: each source contributes documents —
    in a deterministic salted-hash order, i.e. a reproducible random
    draw — until a fixed whitespace-token budget fills. This is how
    pretraining mixtures are actually materialized ("200 B tokens of
    web, 30 B of code"): budgets are in TOKENS, never document counts,
    because per-doc length varies 10x across sources. The
    budget-crossing document is dropped (cum <= B), but every source
    keeps its first draw so tiny budgets still sample all sources.

    Plan: pure projection (token count, hash key) → ONE source-keyed
    window shuffle carrying the running sum and the rank together →
    filter. Window populations are per-source corpus shares; at 100 TB
    a dominant source is the known skew case and the documented swap is
    pre-aggregation by (source, hash-bucket) before a bucket-level scan
    — the per-doc window stays exact here. Integer token counts sum
    exactly in any engine."""
    t = load_tables(spark, sf_dir, "documents")
    from pyspark.sql.window import Window as W

    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    d = t.documents.select(
        "doc_id", "source", n_tok.alias("n_tokens"),
        C.shuffle_rank("doc_id", salt="budget").alias("rk"),
    )
    w = W.partitionBy("source").orderBy("rk", "doc_id")
    c = d.select(
        "doc_id", "source", "n_tokens",
        F.sum("n_tokens").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).cast("long").alias("cum_tokens"),
        F.row_number().over(w).alias("rnk"),
    )
    return (
        c.filter(
            (F.col("cum_tokens") <= _TOKEN_BUDGET) | (F.col("rnk") == 1)
        )
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("source", "cum_tokens", "doc_id")
    )


#: Fixed RFM banding thresholds (recency days / per-user event count /
#: lifetime cents). Chosen against the stable cross-sf distributions of
#: the events table (frequency quartiles ~60/72, monetary ~2900/3700
#: dollars, recency 1-3 days at every sf) so all three digits split at
#: the gate scales. Fixed business-rule bands — NOT global quantiles —
#: are deliberate: a global NTILE needs a total order (one-partition
#: window, the exact anti-pattern the distributed fuse order replaced),
#: while threshold banding is a pure projection at any corpus size.
_RFM_ANCHOR = "2024-01-31"
_R_BANDS = (1, 2)          # days: <=1 -> 3, <=2 -> 2, else 1
_F_BANDS = (72, 60)        # events: >=72 -> 3, >=60 -> 2, else 1
_M_BANDS = (365_000, 290_000)  # cents: >=365k -> 3, >=290k -> 2, else 1


@query(
    "events_rfm_segments",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             DATE_DIFF('day', CAST(MAX(ts) AS DATE), DATE '{_RFM_ANCHOR}')
               AS r_days,
             COUNT(*) AS freq,
             SUM(CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT))
               AS cents
      FROM events GROUP BY user_id
    ), s AS (
      SELECT CASE WHEN r_days <= {_R_BANDS[0]} THEN 3
                  WHEN r_days <= {_R_BANDS[1]} THEN 2 ELSE 1 END AS r,
             CASE WHEN freq >= {_F_BANDS[0]} THEN 3
                  WHEN freq >= {_F_BANDS[1]} THEN 2 ELSE 1 END AS f,
             CASE WHEN cents >= {_M_BANDS[0]} THEN 3
                  WHEN cents >= {_M_BANDS[1]} THEN 2 ELSE 1 END AS m,
             cents
      FROM u
    )
    SELECT 'R' || r || 'F' || f || 'M' || m AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM s GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "events"),
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary), the
    warehouse-analytics staple: band every user 1-3 on each axis against
    fixed business thresholds and report segment populations + value.
    Monetary rides as DECIMAL-derived integer cents (the
    events_decayed_engagement pattern) so sums are order-independent and
    engine-exact.

    Plan: one user-keyed partial-agg shuffle (max ts / count / cents sum
    combine map-side), banding as a pure projection, then one
    segment-keyed agg whose exchange carries <= 27 x partitions rows.
    Linear at any corpus size; no window, no quantile pre-pass."""
    t = load_tables(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(10,2)") * 100).cast("long")
    u = t.events.groupBy("user_id").agg(
        F.datediff(
            F.lit(_RFM_ANCHOR).cast("date"), F.to_date(F.max("ts"))
        ).alias("r_days"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(cents).alias("cents"),
    )
    band = lambda c, hi, mid: (  # noqa: E731
        F.when(c >= hi, 3).when(c >= mid, 2).otherwise(1)
        if hi > mid
        else F.when(c <= hi, 3).when(c <= mid, 2).otherwise(1)
    )
    s = u.select(
        band(F.col("r_days"), *_R_BANDS).alias("r"),
        band(F.col("freq"), *_F_BANDS).alias("f"),
        band(F.col("cents"), *_M_BANDS).alias("m"),
        "cents",
    )
    return (
        s.select(
            F.concat(
                F.lit("R"), F.col("r").cast("string"),
                F.lit("F"), F.col("f").cast("string"),
                F.lit("M"), F.col("m").cast("string"),
            ).alias("segment"),
            "cents",
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("segment")
    )


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


# ------------------------------------------ wave 4: warehouse history & lift


@query(
    "cdc_scd2_history",
    oracle="""
    WITH versions AS (
      SELECT doc_id, 0 AS seq, 'I' AS op, text AS vtext
      FROM documents WHERE doc_id % 4 <> 3
      UNION ALL
      SELECT doc_id, 1, 'U', 'rev1: ' || text
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, 2, 'U', 'rev2: ' || text
      FROM documents WHERE doc_id % 6 = 0
      UNION ALL
      SELECT doc_id, 3, 'D', CAST(NULL AS VARCHAR)
      FROM documents WHERE doc_id % 9 = 0
    ), closed AS (
      SELECT doc_id, seq, op, vtext,
             LEAD(seq) OVER (PARTITION BY doc_id ORDER BY seq)
               AS valid_to_seq
      FROM versions
    )
    SELECT doc_id, CAST(seq AS BIGINT) AS valid_from_seq,
           CAST(valid_to_seq AS BIGINT) AS valid_to_seq,
           (valid_to_seq IS NULL) AS is_current,
           md5(vtext) AS fp
    FROM closed WHERE op <> 'D'
    ORDER BY doc_id, valid_from_seq
    """,
    tags=("llm", "curation", "cdc"),
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build — the OTHER half of CDC ingestion (the
    compaction half is ``cdc_merge_upsert``): instead of latest-wins, keep
    EVERY version with a validity interval [valid_from_seq, valid_to_seq)
    and an ``is_current`` flag, so point-in-time queries can ask "what did
    this row say at seq k". Same deterministic synthesized changelog as
    the merge query (base rows as seq-0 inserts, rev1/rev2 updates,
    deletes at seq 3); a delete closes the last open interval and emits no
    version of its own.

    Plan: one key-partitioned LEAD window over the unioned
    changelog — per-key window state is the version count (≤ 4 here,
    bounded by churn per key in general), never corpus-sized. The union
    branches are projections of one documents scan; no join anywhere. At
    100 TB SCD2 builds are exactly this shape over the real changelog,
    partitioned by key."""
    docs = load_tables(spark, sf_dir, "documents").documents
    mk = lambda seq, op, txt: F.struct(  # noqa: E731
        F.lit(seq).alias("seq"), F.lit(op).alias("op"), txt.alias("vtext")
    )
    versions = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.array(
                    F.when(F.col("doc_id") % 4 != 3, mk(0, "I", F.col("text"))),
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
        ).alias("v"),
    ).select("doc_id", "v.seq", "v.op", "v.vtext")
    w = Window.partitionBy("doc_id").orderBy("seq")
    closed = versions.select(
        "doc_id", "seq", "op", "vtext",
        F.lead("seq").over(w).alias("valid_to_seq"),
    )
    return (
        closed.filter(F.col("op") != "D")
        .select(
            "doc_id",
            F.col("seq").cast("long").alias("valid_from_seq"),
            F.col("valid_to_seq").cast("long").alias("valid_to_seq"),
            F.col("valid_to_seq").isNull().alias("is_current"),
            F.md5("vtext").alias("fp"),
        )
        .orderBy("doc_id", "valid_from_seq")
    )


@query(
    "basket_brand_pair_lift",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM ob),
    marg AS (SELECT brand, COUNT(*) AS n FROM ob GROUP BY brand),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_both
      FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, CAST(n_both AS BIGINT) AS n_both,
           CAST(FLOOR((1000000.0 * n_both * n.n_orders)
                      / (ma.n * mb.n)) AS BIGINT) AS lift_micro
    FROM pairs, n
    JOIN marg ma ON ma.brand = brand_a
    JOIN marg mb ON mb.brand = brand_b
    ORDER BY lift_micro DESC, brand_a, brand_b LIMIT 20
    """,
    tags=("relational", "events"),
)
def basket_brand_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association lift at the brand level — the classic
    retail co-occurrence analysis (Agrawal et al.'s association rules,
    reduced to pairwise lift): lift(a,b) = P(a,b) / (P(a)·P(b)) over
    orders, > 1 meaning the brands are bought together more than chance.
    Brand level (25 values), not part level, because pair statistics at
    the part grain are all-singletons at any realistic basket size.
    lift_micro = floor(1e6·n_both·N / (n_a·n_b)) — both engines evaluate
    the identical double expression tree on integers far below 2^53, then
    floor, so the result is engine-exact.

    Plan (r13, guide §2.4 — the _aa_graph basket-expansion recipe): ONE
    order-keyed ``sort_array(collect_set(brand))`` aggregate over the
    broadcast part join — collect_set subsumes the DISTINCT (order,
    brand) projection — feeds the order count (one row per order with
    ≥1 brand = COUNT DISTINCT okey), the 25-row marginals (set explode),
    and the pair counts (task-local i<j expansion of the sorted array —
    sortedness makes brand_a < brand_b by construction). The old shape
    self-joined the distinct relation on the order key and re-evaluated
    it for n_orders/marginals/both join sides (20 scans, 38 Exchanges in
    the before-plan); now lineitem is scanned and shuffled ONCE into the
    eager-checkpointed basket relation (computed inside every
    invocation, never reused across runs; baskets are ≤ 7 lineitems in
    this schema so the expansion is O(1) per order). Marginals are a
    25-row broadcast; top-20 is TakeOrdered. The 1-row N relation rides
    a broadcast nested-loop join by construction (1 × 300 rows)."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    g = (
        t.lineitem.select(F.col("l_orderkey").alias("okey"), "l_partkey")
        .join(
            F.broadcast(t.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("okey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
        .localCheckpoint(eager=True)
    )
    n_orders = g.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    marg = (
        g.select(F.explode("bs").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        g.select(
            F.explode(
                D.ordered_pairs_expr(F.col("bs"), "brand_a", "brand_b")
            ).alias("_p")
        )
        .groupBy(
            F.col("_p.brand_a").alias("brand_a"),
            F.col("_p.brand_b").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ma = F.broadcast(marg.select(F.col("brand").alias("brand_a"), F.col("n").alias("na")))
    mb = F.broadcast(marg.select(F.col("brand").alias("brand_b"), F.col("n").alias("nb")))
    lift = F.floor(
        (1000000.0 * F.col("n_both") * F.col("n_orders"))
        / (F.col("na") * F.col("nb"))
    ).cast("long")
    return (
        pairs.crossJoin(F.broadcast(n_orders))
        .join(ma, "brand_a")
        .join(mb, "brand_b")
        .select(
            "brand_a", "brand_b",
            F.col("n_both").cast("long").alias("n_both"),
            lift.alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), "brand_a", "brand_b")
        .limit(20)
    )


# ----------------------------------- wave 5: evals, QA screens, ops reads

@query(
    "similarity_knn_label_accuracy",
    oracle=f"""
    WITH scored AS (
      SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
             e.label AS nlabel,
             {_duck_cosine('e.embedding', 'p.embedding')} AS cs
      FROM embeddings e, embeddings p
      WHERE p.vec_id < 50 AND e.vec_id <> p.vec_id
    ), topk AS (
      SELECT probe_id, nlabel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                     ORDER BY cs DESC, neighbor_id) AS rnk
        FROM scored) WHERE rnk <= 10
    ), votes AS (
      SELECT probe_id, nlabel, COUNT(*) AS v FROM topk GROUP BY 1, 2
    ), pred AS (
      SELECT probe_id, nlabel AS plabel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                     ORDER BY v DESC, nlabel) AS r
        FROM votes) WHERE r = 1
    )
    SELECT CAST(t.label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN p.plabel = t.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(FLOOR(1000.0 * SUM(CASE WHEN p.plabel = t.label
                                        THEN 1 ELSE 0 END) / COUNT(*))
                AS BIGINT) AS acc_permille
    FROM embeddings t JOIN pred p ON p.probe_id = t.vec_id
    WHERE t.vec_id < 50
    GROUP BY t.label ORDER BY t.label
    """,
    tags=("llm", "similarity", "eval"),
)
def similarity_knn_label_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-space label coherence: leave-one-out 10-NN majority-vote
    accuracy over a fixed 50-probe eval sample, reported per true label —
    the standard "is this embedding column any good for retrieval"
    screen (low coherence on one label = that class collapsed in the
    encoder). Deterministic end-to-end: cosine ties break by neighbor id,
    vote ties by smaller label; the cosine fold is the same expression
    the knn oracle already replays bit-exactly.

    Plan: probes broadcast against ONE corpus scan (the knn_join shape —
    TakeOrdered per probe, never a global sort), neighbor labels join on
    the corpus key, then two tiny keyed aggs (votes: ≤ probes×labels
    rows; report: ≤ labels rows). Eval cost is probes × corpus at any
    scale — the eval sample is the knob, not the corpus."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "embeddings")
    emb = t.embeddings
    probes = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    knn = S.knn_join(emb, probes, k=10)
    nb = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    votes = (
        knn.join(nb, "neighbor_id")
        .groupBy("probe_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("v"), F.asc("nlabel"))
    pred = (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("probe_id", F.col("nlabel").alias("plabel"))
    )
    truth = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("probe_id"), "label"
    )
    correct = F.sum(
        F.when(F.col("plabel") == F.col("label"), 1).otherwise(0)
    )
    return (
        truth.join(pred, "probe_id")
        .groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            correct.cast("long").alias("n_correct"),
            F.floor(1000.0 * correct / F.count(F.lit(1)))
            .cast("long")
            .alias("acc_permille"),
        )
        .orderBy("label")
    )


#: Fingerprint of the integer-micros view of a vector — byte-identical in
#: both engines (same floor(double(x)*1e6) per component, same comma join).
_VEC_FP_DUCK = (
    "md5(array_to_string(list_transform(embedding, x -> "
    "CAST(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS VARCHAR)), ','))"
)


@query(
    "embedding_exact_dup_vectors",
    oracle=f"""
    WITH all_vecs AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 10000000, embedding FROM embeddings
      WHERE vec_id % 37 = 0
    ), fp AS (
      SELECT vec_id, {_VEC_FP_DUCK} AS fp FROM all_vecs
    )
    SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(vec_id) AS BIGINT) AS keep_id
    FROM fp GROUP BY fp HAVING COUNT(*) >= 2 ORDER BY keep_id
    """,
    tags=("llm", "embedding", "dedup"),
)
def embedding_exact_dup_vectors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bit-exact duplicate VECTOR detection — the embedding-table QA
    screen that catches re-encoded copies, pipeline double-writes, and
    encoder collapse (distinct inputs mapping to the identical vector).
    The corpus is synthetic and dup-free, so the query injects
    deterministic replicas (every 37th vector re-appears under a shifted
    id, identically on both engines) and must recover exactly those
    groups. Fingerprint = md5 over the integer-micros rendering of the
    vector, so float formatting can never differ between engines.

    Plan: map-only fingerprint projection → one fp-keyed partial-agg
    shuffle (the exchange carries one row per distinct vector) → HAVING
    filter. The dedup-exact shape applied to vectors; linear at any
    corpus size."""
    t = load_tables(spark, sf_dir, "embeddings")
    emb = t.embeddings
    replicas = emb.filter(F.col("vec_id") % 37 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    av = emb.select("vec_id", "embedding").unionByName(replicas)
    micro_str = F.concat_ws(
        ",",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1000000.0))
            .cast("long")
            .cast("string"),
        ),
    )
    return (
        av.select("vec_id", F.md5(micro_str).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("vec_id").cast("long").alias("keep_id"),
        )
        .filter(F.col("n_copies") >= 2)
        .orderBy("keep_id")
    )


@query(
    "events_sessions_bounce_rate",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                          > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM g
    ), sess AS (
      SELECT user_id, session_idx, COUNT(*) AS n_events,
             strftime(CAST(MIN(ts) AS DATE), '%Y-%m-%d') AS day
      FROM s GROUP BY user_id, session_idx
    )
    SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounce,
           CAST(FLOOR(1000.0 * SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0
                                   END) / COUNT(*)) AS BIGINT)
             AS bounce_permille
    FROM sess GROUP BY day ORDER BY day
    """,
    tags=("llm", "events"),
)
def events_sessions_bounce_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily bounce rate: the share of 30-minute-gap sessions that contain
    exactly one event, by session-start day — the engagement-health
    metric read next to DAU. Reuses the registered sessionization shape
    (gap flag + running sum over one user-keyed window), then two
    shrinking keyed aggs (events → sessions → days).

    Plan: one user-keyed window shuffle, one (user, session)-keyed agg,
    one day-keyed agg whose exchange carries ≤ |days| × partitions rows.
    Same scale posture as sessionize_events; the permille is integer
    fixed-point."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.lag("ts").over(w)
    )
    new_sess = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1
    ).otherwise(0)
    s = t.events.select(
        "user_id", "ts",
        F.sum(new_sess).over(
            W.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("session_idx"),
    )
    sess = s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd").alias("day"),
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (
        sess.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            bounce.cast("long").alias("n_bounce"),
            F.floor(1000.0 * bounce / F.count(F.lit(1)))
            .cast("long")
            .alias("bounce_permille"),
        )
        .orderBy("day")
    )


@query(
    "events_interarrival_histogram",
    oracle="""
    WITH g AS (
      SELECT epoch_us(ts) - epoch_us(LAG(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT CASE WHEN gap_us < 3600000000 THEN '0_lt_1h'
                WHEN gap_us < 21600000000 THEN '1_1h_6h'
                WHEN gap_us < 86400000000 THEN '2_6h_24h'
                ELSE '3_ge_24h' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n_gaps
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY band ORDER BY band
    """,
    tags=("llm", "events"),
)
def events_interarrival_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user inter-event gap histogram — the distribution read BEFORE
    choosing a session gap or a streaming watermark (the 30-minute
    session cut and the state-TTL both live or die by where this mass
    sits). Bands are microsecond-exact integer comparisons, so the
    histogram is engine-exact.

    Plan: one user-keyed LAG window, then a 4-row keyed agg. Linear; the
    window state per user is one row."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    g = F.col("gap_us")
    band = (
        F.when(g < 3_600_000_000, "0_lt_1h")
        .when(g < 21_600_000_000, "1_1h_6h")
        .when(g < 86_400_000_000, "2_6h_24h")
        .otherwise("3_ge_24h")
    )
    return (
        t.events.select(gap.alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
        .select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_gaps"))
        .orderBy("band")
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


# -------------------------------- wave 6: concentration & search rendering

_REV_CENTS_SQL = "SUM(CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS cents"
_REV_DOLLARS_SQL = "SUM(CAST(FLOOR(CAST(o.o_totalprice AS DECIMAL(14,2))) AS BIGINT)) AS dollars"


def _duck_nation_customer_rev(value: str) -> str:
    """Oracle ``rev(nation, custkey, ...)`` CTE: one row per customer
    (keyed by nation name) carrying the aggregate ``value``."""
    return f"""rev AS (
      SELECT n.n_name AS nation, c.c_custkey AS custkey,
             {value}
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    )"""


def _nation_customer_rev(t, value, alias: str) -> DataFrame:
    """(nation, c_custkey, ``alias``): per-customer sum of the order-level
    ``value`` column, keyed by nation name — the input of the per-nation
    concentration queries."""
    return (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), F.col("c_custkey"))
        .agg(F.sum(value).alias(alias))
    )


@query(
    "orders_pareto_concentration",
    oracle=f"""
    WITH {_duck_nation_customer_rev(_REV_CENTS_SQL)}, ranked AS (
      SELECT nation, cents,
             SUM(cents) OVER (PARTITION BY nation
                              ORDER BY cents DESC, custkey
                              ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cents) OVER (PARTITION BY nation) AS tot,
             ROW_NUMBER() OVER (PARTITION BY nation
                                ORDER BY cents DESC, custkey) AS rnk
      FROM rev
    )
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN(CASE WHEN cum * 2 >= tot THEN rnk END) AS BIGINT)
             AS n_top_half,
           CAST(FLOOR(1000.0 * MIN(CASE WHEN cum * 2 >= tot THEN rnk END)
                      / COUNT(*)) AS BIGINT) AS top_permille
    FROM ranked GROUP BY nation ORDER BY nation
    """,
    tags=("relational", "profile"),
)
def orders_pareto_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Revenue concentration (the Pareto / "how few customers are half the
    business" cut) per nation: rank customers by lifetime order value and
    report how many it takes to reach 50 % of the nation's revenue. The
    crossing test is ``2·cum ≥ total`` — pure integers (DECIMAL-derived
    cents), so the cut index is engine-exact with no 0.5 float threshold.

    Plan: one (nation, customer)-keyed agg, then ONE nation-keyed window
    shuffle carrying the running sum, the nation total, and the rank
    together, then a ≤ |nations|-row agg. Window populations are per-
    nation customer counts — the segmentation key is the skew control (a
    global Pareto would need the total-order window this formulation
    avoids)."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    cents = (
        F.col("o_totalprice").cast("decimal(14,2)") * 100
    ).cast("long")
    rev = _nation_customer_rev(t, cents, "cents")
    part = W.partitionBy("nation")
    order = part.orderBy(F.desc("cents"), F.asc("c_custkey"))
    ranked = rev.select(
        "nation",
        F.sum("cents").over(
            order.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("cum"),
        F.sum("cents").over(part).alias("tot"),
        F.row_number().over(order).alias("rnk"),
    )
    crossing = F.min(
        F.when(F.col("cum") * 2 >= F.col("tot"), F.col("rnk"))
    )
    return (
        ranked.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            crossing.cast("long").alias("n_top_half"),
            F.floor(1000.0 * crossing / F.count(F.lit(1)))
            .cast("long")
            .alias("top_permille"),
        )
        .orderBy("nation")
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


# -------------------------- wave 7: inequality index & tolerant as-of join


@query(
    "agg_gini_by_nation",
    oracle=f"""
    WITH {_duck_nation_customer_rev(_REV_CENTS_SQL)}, ranked AS (
      SELECT nation, cents,
             ROW_NUMBER() OVER (PARTITION BY nation
                                ORDER BY cents, custkey) AS i
      FROM rev
    ), agg AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(i * cents) AS BIGINT) AS sixi,
             CAST(SUM(cents) AS BIGINT) AS sx
      FROM ranked GROUP BY nation
    )
    SELECT nation, n AS n_customers,
           CAST(FLOOR((1000000.0 * ((2 * sixi) - ((n + 1) * sx)))
                      / (n * sx)) AS BIGINT) AS gini_micro
    FROM agg ORDER BY nation
    """,
    tags=("relational", "profile"),
)
def agg_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini inequality index of customer revenue per nation — the single-
    number concentration measure next to the Pareto cut (0 = everyone
    equal, →1 = one customer is the business), via the rank formula
    G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over ascending revenue ranks. The
    numerator and denominator stay exact BIGINTs (DECIMAL-cents, integer
    rank products — tie order among equal values provably cancels out of
    Σi·xᵢ); only the final quotient is one double multiply + one divide +
    FLOOR, the identical IEEE expression tree in both engines.

    Plan: one (nation, customer)-keyed agg → ONE nation-keyed window
    shuffle for the rank → a ≤ |nations|-row agg. Segmented, never a
    global order; same skew posture as the Pareto query."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    cents = (
        F.col("o_totalprice").cast("decimal(14,2)") * 100
    ).cast("long")
    rev = _nation_customer_rev(t, cents, "cents")
    i = F.row_number().over(
        W.partitionBy("nation").orderBy("cents", "c_custkey")
    ).cast("long")
    ranked = rev.select("nation", "cents", i.alias("i"))
    agg = ranked.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("i") * F.col("cents")).cast("long").alias("sixi"),
        F.sum("cents").cast("long").alias("sx"),
    )
    gini = F.floor(
        (1000000.0 * ((2 * F.col("sixi")) - ((F.col("n") + 1) * F.col("sx"))))
        / (F.col("n") * F.col("sx"))
    ).cast("long")
    return agg.select(
        "nation", F.col("n").alias("n_customers"), gini.alias("gini_micro")
    ).orderBy("nation")


@query(
    "asof_join_tolerance_15m",
    oracle="""
    WITH j AS (
      SELECT l.event_id, l.user_id, l.ts, l.value,
             r.value AS value_click, r.ts AS ts_click
      FROM (SELECT * FROM events WHERE event_type = 'purchase') l
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
        ON l.user_id = r.user_id AND l.ts >= r.ts
    )
    SELECT event_id, user_id, ts, value,
           CASE WHEN ts_click >= ts - INTERVAL 15 MINUTE
                THEN value_click END AS value_click,
           CASE WHEN ts_click >= ts - INTERVAL 15 MINUTE
                THEN ts_click END AS ts_click
    FROM j ORDER BY event_id
    """,
    tags=("events", "asof", "join"),
)
def asof_join_tolerance_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-staleness TOLERANCE (pandas ``merge_asof``'s
    ``tolerance=``, exercised through operators/asof.py's
    ``tolerance_expr``): each purchase takes the latest preceding click by
    the same user ONLY if it is at most 15 minutes old — staler context is
    worse than none for attribution/feature joins, and because backward
    as-of picks the LATEST candidate, post-match nulling is exactly
    tolerance semantics (no earlier candidate can be fresher). Left rows
    survive with NULLs, preserving the left-join contract.

    Plan: identical to the registered backward as-of (union + ONE
    user-keyed window, struct carry-forward) plus a pure-projection
    tolerance gate — the knob costs zero extra shuffles."""
    from ..operators.asof import asof_join

    t = load_tables(spark, sf_dir, "events")
    purchases = t.events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = t.events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        purchases, clicks, on="ts", by="user_id",
        value_cols=["value"], suffix="_click",
        tolerance_expr="INTERVAL 15 MINUTE",
    ).orderBy("event_id")


# ------------------------- wave 8: token-weighted savings & activity grid


@query(
    "dedup_token_savings_by_source",
    oracle=f"""
    WITH RECURSIVE {_DUCK_CLUSTERS},
    verdict AS (
      SELECT a.source, a.doc_id,
             (ROW_NUMBER() OVER (PARTITION BY cluster_id
                                 ORDER BY a.n_chars DESC, a.doc_id) = 1)
               AS kept
      FROM asg a
    ), tok AS (
      SELECT v.source, v.kept,
             CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM verdict v JOIN documents d ON d.doc_id = v.doc_id
    )
    SELECT source,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN kept THEN 0 ELSE n_tokens END) AS BIGINT)
             AS removed_tokens,
           CAST(FLOOR(1000.0 * SUM(CASE WHEN kept THEN 0 ELSE n_tokens END)
                      / SUM(n_tokens)) AS BIGINT) AS savings_permille
    FROM tok GROUP BY source ORDER BY source
    """,
    tags=("llm", "dedup", "curation"),
)
def dedup_token_savings_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TOKEN-weighted dedup savings per source — the companion to
    ``dedup_rate_by_source`` that reports what training actually pays
    for: a source can lose 10 % of its documents but 30 % of its tokens
    if the dup families skew long, and mixture re-weighting is done in
    tokens. Same keep-longest verdict relation (so doc-rate, token-rate
    and the cut itself can never disagree), token counts joined back on
    the doc key, one source-keyed agg.

    Plan: the keep-longest shapes plus one doc-keyed join (token counts
    ride the same corpus scan) and a ≤ |sources|-row agg. Integer
    permille; engine-exact."""
    v = _cluster_keep_longest(spark, sf_dir)
    t = load_tables(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    tok = v.select("doc_id", "source", "kept").join(
        t.documents.select("doc_id", n_tok.alias("n_tokens")), "doc_id"
    )
    removed = F.sum(F.when(F.col("kept"), 0).otherwise(F.col("n_tokens")))
    return (
        tok.groupBy("source")
        .agg(
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            removed.cast("long").alias("removed_tokens"),
            F.floor(1000.0 * removed / F.sum("n_tokens"))
            .cast("long")
            .alias("savings_permille"),
        )
        .orderBy("source")
    )


@query(
    "events_weekday_hour_heatmap",
    oracle="""
    SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM events GROUP BY 1, 2 ORDER BY dow, hour
    """,
    tags=("events", "profile"),
)
def events_weekday_hour_heatmap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekday × hour activity grid (counts + DECIMAL-cents value) — the
    ops heatmap behind capacity planning and anomaly baselines ("is
    Tuesday 14:00 usually this quiet?"). Engine convention pinned
    explicitly: Spark ``dayofweek`` is 1=Sunday, DuckDB's is 0=Sunday, so
    the oracle shifts by one rather than trusting a name collision.

    Plan: pure projection → one (dow, hour)-keyed partial-agg shuffle
    whose exchange carries ≤ 168 × partitions rows. Linear always."""
    t = load_tables(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(10,2)") * 100).cast("long")
    return (
        t.events.groupBy(
            F.dayofweek("ts").cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents).cast("long").alias("cents"),
        )
        .orderBy("dow", "hour")
    )


# --------------------- wave 9 (round-5 final): evals, bursts, profiles

@query(
    "dedup_lsh_recall_eval",
    oracle=f"""
    WITH {DUCK_SHINGLE_SETS},
    exact AS (
      {NEAR_DUP_PAIRS}
    ), c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM exact)
    -- The oracle pins the EXACT side and asserts full recall (the 24x6
    -- banding recovers every J>=0.5 pair on this corpus, verified by the
    -- Spark side computing both pipelines for real). A RED row here means
    -- banding recall dropped below 1000 permille: recompute recall
    -- manually (run the Spark query and read recall_permille) rather than
    -- assuming an engine bug — the LSH side is deliberately not mirrored
    -- in SQL, so sub-full recall surfaces as a hash mismatch (r5 ADVICE).
    SELECT n AS n_exact_pairs, n AS n_lsh_pairs, n AS n_common,
           CAST(1000 AS BIGINT) AS recall_permille
    FROM c
    """,
    tags=("llm", "dedup", "eval"),
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the banded MinHash-LSH candidate path against
    exact shared-shingle Jaccard — the eval you run before trusting the
    LSH band/row knobs on a new corpus (24 hashes × 6 bands at J=0.5
    gives ~97 % theoretical pair recall; banding loss is silent unless
    measured). The Spark side genuinely computes BOTH pipelines and
    intersects; the oracle pins the registered contract that on this
    corpus the banded path achieves FULL recall (the same coincidence the
    ``dedup_minhash_lsh`` oracle has always asserted) — so any silent
    recall regression in the signature/banding code turns this row red
    instead of quietly shrinking dedup output.

    Plan: the two pair relations reuse the shingle shapes (LSH output is
    verified, hence ⊆ exact by construction — n_common is one equi-join);
    the result is a single row, aggregated map-side."""
    t = load_tables(spark, sf_dir, "documents")
    exact = D.jaccard_pairs(t.documents, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    lsh = D.minhash_lsh_dedup(t.documents, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    n_exact = exact.count()
    n_lsh = lsh.count()
    n_common = exact.join(lsh, ["doc_a", "doc_b"]).count()
    recall = (1000 * n_common) // n_exact if n_exact else 1000
    return spark.createDataFrame(
        [(n_exact, n_lsh, n_common, recall)],
        "n_exact_pairs long, n_lsh_pairs long, n_common long, "
        "recall_permille long",
    )


@query(
    "events_error_burst_detect",
    oracle="""
    WITH b AS (
      SELECT event_type,
             epoch_us(ts) // 900000000 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), roll AS (
      SELECT event_type, bucket,
             CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bucket
                               RANGE BETWEEN 3 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_1h
      FROM b
    )
    SELECT event_type,
           CAST(MAX(n_1h) AS BIGINT) AS peak_1h_events,
           CAST(MIN(CASE WHEN n_1h = mx THEN bucket END) AS BIGINT)
             AS peak_bucket
    FROM (SELECT *, MAX(n_1h) OVER (PARTITION BY event_type) AS mx FROM roll)
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "profile"),
)
def events_error_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection per event type: the busiest sliding hour (as four
    15-minute buckets via a RANGE window over the integer bucket index —
    so empty buckets correctly do NOT extend the window) and when it
    happened. The alerting baseline behind "errors are bursting" — run
    over every type so error peaks read against the traffic peak.
    Deterministic: the earliest peak bucket wins ties.

    Plan: one (type, bucket)-keyed count (map-side partial), one
    type-keyed RANGE window over ≤ |buckets| aggregated rows per type —
    window population is bucket count (time-bounded), never event count —
    then a ≤ |types|-row agg. Linear in events, constant in state."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "events")
    # floor(), not cast-to-long (truncate toward zero): the oracle's DuckDB
    # // floors, and the two disagree on pre-1970 timestamps (r5 ADVICE).
    bucket = F.floor(F.unix_micros(F.col("ts")) / F.lit(900_000_000)).cast("long")
    b = t.events.groupBy(
        "event_type", bucket.alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        W.partitionBy("event_type")
        .orderBy("bucket")
        .rangeBetween(-3, W.currentRow)
    )
    roll = b.select(
        "event_type", "bucket", F.sum("n").over(w).alias("n_1h")
    )
    mx = F.max("n_1h").over(W.partitionBy("event_type"))
    return (
        roll.withColumn("mx", mx)
        .groupBy("event_type")
        .agg(
            F.max("n_1h").cast("long").alias("peak_1h_events"),
            F.min(
                F.when(F.col("n_1h") == F.col("mx"), F.col("bucket"))
            ).cast("long").alias("peak_bucket"),
        )
        .orderBy("event_type")
    )


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


# -------------- wave 10 (post-window; next round's driver front): evals 2


def _duck_str_list(words) -> str:
    """DuckDB list literal of strings (marker vocabularies are tiny)."""
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _langid_confusion_oracle() -> str:
    langs = sorted(T.LANG_MARKERS)
    score_cols = ", ".join(
        f"CAST(len(list_filter(tk, w -> list_contains("
        f"{_duck_str_list(T.LANG_MARKERS[lang])}, w))) AS BIGINT) AS s_{lang}"
        for lang in langs
    )
    greatest = ", ".join(f"s_{l}" for l in langs)
    # first language (sorted order) reaching the max wins — the exact
    # tie-break operators/text.language_id applies
    whens = " ".join(
        f"WHEN s_{l} = GREATEST({greatest}) THEN '{l}'" for l in langs
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, {T.duck_tokens("text")} AS tk FROM documents
    ), scores AS (
      SELECT doc_id, lang, {score_cols} FROM toks
    ), pred AS (
      SELECT doc_id, lang,
             CASE WHEN GREATEST({greatest}) = 0 THEN 'unknown'
                  {whens} END AS pred_lang
      FROM scores
    )
    SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2 ORDER BY lang, pred_lang
    """


@query(
    "text_langid_confusion",
    oracle=_langid_confusion_oracle(),
    tags=("llm", "text", "eval"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the marker-heuristic classifier's
    predictions against the labeled ``lang`` column — the eval table read
    before trusting a language filter (off-diagonal mass = docs a
    lang-gated pipeline would mis-route; languages OUTSIDE the marker
    vocabulary, fr/zh here, show exactly how they leak into en/es/de or
    'unknown'). The oracle re-derives the classifier itself — same marker
    lists, same argmax, same first-wins tie-break over sorted language
    order — so classifier drift, not just aggregation bugs, turns the
    row red.

    Plan: the scorer is a zero-shuffle projection (array_contains folds,
    JVM-side); one (lang, pred)-keyed agg whose exchange carries ≤
    |langs|² × partitions rows. Linear always."""
    t = load_tables(spark, sf_dir, "documents")
    pred = T.language_id(t.documents).select("doc_id", "pred_lang")
    return (
        t.documents.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


@query(
    "agg_hhi_by_nation",
    oracle=f"""
    WITH {_duck_nation_customer_rev(_REV_DOLLARS_SQL)}, agg AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dollars * dollars) AS BIGINT) AS sc2,
             CAST(SUM(dollars) AS BIGINT) AS t
      FROM rev GROUP BY nation
    )
    SELECT nation, n AS n_customers,
           CAST(FLOOR((1000000.0 * sc2) / (CAST(t AS DOUBLE) * t))
                AS BIGINT) AS hhi_micro
    FROM agg ORDER BY nation
    """,
    tags=("relational", "profile"),
)
def agg_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of customer revenue per
    nation — the OTHER standard concentration measure next to Gini
    (HHI = Σ shareᵢ², 1e6/n = perfectly even, 1e6 = monopoly). Shares are
    unit-invariant, so revenue rides as WHOLE floor-dollars: in cents
    Σcᵢ² overflows BIGINT at sf0.1 (≈1e21), in dollars it is an exact
    BIGINT ≈1e17 — measured, not guessed (ANSI mode turns the cents
    formulation into a runtime ArithmeticException, which is how this
    was caught). Only the final quotient is the identical double tree in
    both engines — t converts to double BEFORE squaring for the same
    overflow reason.

    Plan: one (nation, customer)-keyed agg (partials combine map-side),
    then a ≤ |nations|-row agg — no window at all; HHI needs no ranks,
    which is exactly why it complements the rank-based Gini."""
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    dollars = F.floor(F.col("o_totalprice").cast("decimal(14,2)")).cast(
        "long"
    )
    rev = _nation_customer_rev(t, dollars, "dollars")
    agg = rev.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("dollars") * F.col("dollars")).cast("long").alias("sc2"),
        F.sum("dollars").cast("long").alias("t"),
    )
    hhi = F.floor(
        (1000000.0 * F.col("sc2")) / (F.col("t").cast("double") * F.col("t"))
    ).cast("long")
    return agg.select(
        "nation", F.col("n").alias("n_customers"), hhi.alias("hhi_micro")
    ).orderBy("nation")


@query(
    "curation_lang_upsample_plan",
    oracle="""
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY lang),
    m AS (SELECT MAX(n_docs) AS mx FROM c)
    SELECT lang, n_docs,
           CAST(mx // n_docs AS BIGINT) AS copies,
           CAST(n_docs * (mx // n_docs) AS BIGINT) AS docs_after
    FROM c, m ORDER BY lang
    """,
    tags=("llm", "curation"),
)
def curation_lang_upsample_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Language-balancing upsample plan: integer replication factors that
    bring every language toward the largest one (copies = ⌊max/n⌋ — whole
    copies, the factor multilingual pretraining recipes actually apply;
    fractional epochs are a sampling weight, not a copy count). Emits the
    PLAN (per-lang factor + resulting count); applying it is one explode —
    planning is separated from applying so the plan itself is reviewable
    and oracle-checkable.

    Plan shape: one lang-keyed agg; the max is a 1-row broadcast onto ≤
    |langs| rows. Nothing scales with corpus size past the first agg."""
    t = load_tables(spark, sf_dir, "documents")
    c = t.documents.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    m = c.agg(F.max("n_docs").alias("mx"))
    copies = F.floor(F.col("mx") / F.col("n_docs")).cast("long")
    return (
        c.crossJoin(F.broadcast(m))
        .select(
            "lang", "n_docs", copies.alias("copies"),
            (F.col("n_docs") * copies).cast("long").alias("docs_after"),
        )
        .orderBy("lang")
    )


@query(
    "embedding_dim_variance_audit",
    oracle="""
    WITH m AS (
      SELECT generate_subscripts(embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS xm
      FROM embeddings
    ), cent AS (
      SELECT pos, CAST(FLOOR(SUM(xm) * 1.0 / COUNT(*)) AS BIGINT) AS mm,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM m GROUP BY pos
    )
    SELECT CAST(m.pos AS BIGINT) AS pos, cent.mm AS mean_micro,
           CAST(SUM((xm - mm) * (xm - mm)) // MAX(n) AS BIGINT)
             AS var_micro2,
           CAST(MIN(xm) AS BIGINT) AS min_micro,
           CAST(MAX(xm) AS BIGINT) AS max_micro
    FROM m JOIN cent USING (pos)
    GROUP BY m.pos, cent.mm ORDER BY pos
    """,
    tags=("llm", "embedding", "profile"),
)
def embedding_dim_variance_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension variance audit of the embedding column — the
    collapsed-dimension screen run before PCA/whitening or truncated
    serving (a near-zero-variance dimension carries no information; a few
    dominant ones means the encoder rank-collapsed). Exact integers
    end-to-end via the two-pass trick: the d-row integer-micros centroid
    embeds as a literal (the outlier-query pattern), then Σ(x−m)² is a
    pure BIGINT sum (|diff| ~1e6 ⇒ Σ ≤ ~6e15, no overflow) and the
    variance is one floor division by the row count.

    Plan: one dim-keyed partial-agg shuffle for the centroid (d ×
    partitions exchange rows), a geometry-bounded d-row collect, then ONE
    map-only posexplode + dim-keyed agg for all four moments together.
    Linear; no float accumulation anywhere."""
    t = load_tables(spark, sf_dir, "embeddings")
    micro = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )
    m = t.embeddings.select(micro.alias("xm"))
    sums = (
        m.select(F.posexplode("xm").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    mean = {int(r["pos"]): int(r["s"]) // int(r["n"]) for r in sums}
    n_rows = int(sums[0]["n"])
    from ..operators.litexpr import lit_longs

    mean_lit = lit_longs(mean[p] for p in sorted(mean))  # one-parse literal (r13)
    ex = m.select(F.posexplode("xm").alias("pos", "v")).select(
        "pos", "v",
        F.element_at(mean_lit, F.col("pos") + 1).alias("mm"),
    )
    return (
        ex.groupBy("pos")
        .agg(
            F.max("mm").alias("mean_micro"),
            F.floor(
                F.sum((F.col("v") - F.col("mm")) * (F.col("v") - F.col("mm")))
                / F.lit(n_rows)
            ).cast("long").alias("var_micro2"),
            F.min("v").cast("long").alias("min_micro"),
            F.max("v").cast("long").alias("max_micro"),
        )
        .select(
            # DuckDB generate_subscripts is 1-based; posexplode is 0-based
            (F.col("pos") + 1).cast("long").alias("pos"),
            F.col("mean_micro").cast("long"),
            "var_micro2", "min_micro", "max_micro",
        )
        .orderBy("pos")
    )


# ------- wave 11 (post-window): pipeline summary & time-series BI staples


@query(
    "curation_dedup_pipeline_summary",
    oracle=f"""
    WITH RECURSIVE {_DUCK_CLUSTERS},
    verdict AS (
      SELECT a.doc_id,
             (ROW_NUMBER() OVER (PARTITION BY cluster_id
                                 ORDER BY a.n_chars DESC, a.doc_id) = 1)
               AS kept,
             cluster_id
      FROM asg a
    ), tok AS (
      SELECT v.kept, v.cluster_id,
             CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM verdict v JOIN documents d ON d.doc_id = v.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_families,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_before,
           CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT)
             AS tokens_after,
           CAST(FLOOR(1000.0 * SUM(CASE WHEN kept THEN 0 ELSE n_tokens END)
                      / SUM(n_tokens)) AS BIGINT) AS token_cut_permille
    FROM tok
    """,
    tags=("llm", "dedup", "curation"),
)
def curation_dedup_pipeline_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The one-row corpus-reduction summary a pipeline run logs: documents
    in/out, dup-family count, tokens before/after the keep-longest cut,
    and the token cut in permille. One relation feeds every number (the
    same keep-longest verdict the per-source reports read), so this
    headline row can never disagree with its breakdowns — the invariant
    every metrics dashboard wishes it had.

    Plan: the keep-longest shapes + one doc-keyed token join + ONE global
    aggregate whose partials combine map-side (n_families rides a
    distinct-count over cluster ids, bounded by doc count). Output is a
    single row at any corpus size."""
    v = _cluster_keep_longest(spark, sf_dir)
    t = load_tables(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    tok = v.select("doc_id", "kept", "cluster_id").join(
        t.documents.select("doc_id", n_tok.alias("n_tokens")), "doc_id"
    )
    cut = F.sum(F.when(F.col("kept"), 0).otherwise(F.col("n_tokens")))
    return tok.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
        F.countDistinct("cluster_id").cast("long").alias("n_families"),
        F.sum("n_tokens").cast("long").alias("tokens_before"),
        F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("tokens_after"),
        F.floor(1000.0 * cut / F.sum("n_tokens"))
        .cast("long")
        .alias("token_cut_permille"),
    )


@query(
    "events_day_over_day_growth",
    oracle="""
    WITH m AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1
    )
    SELECT day, n_events, cents,
           CAST(FLOOR(1000.0 * (n_events - LAG(n_events) OVER w)
                      / LAG(n_events) OVER w) AS BIGINT)
             AS events_dod_permille,
           CAST(FLOOR(1000.0 * (cents - LAG(cents) OVER w)
                      / LAG(cents) OVER w) AS BIGINT) AS value_dod_permille
    FROM m WINDOW w AS (ORDER BY day) ORDER BY day
    """,
    tags=("events", "profile"),
)
def events_day_over_day_growth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Day-over-day growth of event volume and value (permille deltas,
    NULL for the first day) — the BI staple on every ops dashboard. The
    daily grain is the one with real deltas on this table's one-month
    span; the identical shape runs at any calendar grain. The LAG window
    runs over DAYS — an already-aggregated relation of ≤ |days| rows — so
    the single-partition window is geometry-bounded (dates, not events),
    the one place a total order is genuinely free.

    Plan: one day-keyed partial agg (map-side combine), then the tiny
    day-ordered window. Integer cents, floor-permille deltas —
    engine-exact including the negative-growth floor direction (FLOOR is
    toward −∞ in both engines)."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(10,2)") * 100).cast("long")
    m = t.events.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(cents).cast("long").alias("cents"),
    )
    w = W.orderBy("day")
    dod = lambda c: F.floor(  # noqa: E731
        1000.0 * (F.col(c) - F.lag(c).over(w)) / F.lag(c).over(w)
    ).cast("long")
    return m.select(
        "day", "n_events", "cents",
        dod("n_events").alias("events_dod_permille"),
        dod("cents").alias("value_dod_permille"),
    ).orderBy("day")


@query(
    "orders_seasonality_index",
    oracle="""
    WITH m AS (
      SELECT CAST(month(o_orderdate) AS BIGINT) AS month,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ), t AS (SELECT SUM(n_orders) AS tot, COUNT(*) AS n_months FROM m)
    SELECT month, n_orders,
           CAST(FLOOR(1000.0 * n_orders * n_months / tot) AS BIGINT)
             AS seasonality_permille
    FROM m, t ORDER BY month
    """,
    tags=("relational", "profile"),
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month seasonality index of order volume: each month's
    share of orders relative to a perfectly flat year (1000 = average
    month; 1200 = a 20 % hot month) — the demand-planning read, pooled
    across the table's multi-year span so single-year noise averages out.

    Plan: one month-keyed agg (12 groups), the totals as a 1-row
    broadcast. Nothing scales past the first partial agg."""
    t = load_tables(spark, sf_dir, "orders")
    m = t.orders.groupBy(
        F.month("o_orderdate").cast("long").alias("month")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    tot = m.agg(
        F.sum("n_orders").alias("tot"), F.count(F.lit(1)).alias("n_months")
    )
    return (
        m.crossJoin(F.broadcast(tot))
        .select(
            "month", "n_orders",
            F.floor(
                1000.0 * F.col("n_orders") * F.col("n_months") / F.col("tot")
            ).cast("long").alias("seasonality_permille"),
        )
        .orderBy("month")
    )


# ---- wave 12 (post-window): gating rates, mixture crosstab, degree dist


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


@query(
    "curation_source_lang_crosstab",
    oracle="""
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(len(string_split_regex(trim(text), '\\s+'))
                    AS BIGINT)) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source, lang ORDER BY source, lang
    """,
    tags=("llm", "curation", "profile"),
)
def curation_source_lang_crosstab(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Source × language crosstab in documents AND tokens — the raw
    planning matrix every mixture decision starts from (re-weighting,
    upsampling, and per-lang quality thresholds all read this table
    first; tokens, not doc counts, are the column that matters).

    Plan: token count is a zero-shuffle projection; one
    (source, lang)-keyed partial agg (≤ |sources|·|langs| × partitions
    exchange rows)."""
    t = load_tables(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    return (
        t.documents.select("source", "lang", n_tok.alias("n_tokens"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("source", "lang")
    )


@query(
    "events_user_activity_histogram",
    oracle="""
    WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k
               FROM events GROUP BY user_id)
    SELECT k AS events_per_user, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM u GROUP BY k ORDER BY k
    """,
    tags=("events", "profile"),
)
def events_user_activity_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-of-counts activity histogram: how many users produced exactly
    k events — the degree-distribution read behind power-law checks, bot
    screens (an impossible spike at one k), and per-user state sizing for
    streaming jobs. Two shrinking keyed aggs (events → users → distinct
    activity levels); each successive exchange is strictly smaller."""
    t = load_tables(spark, sf_dir, "events")
    u = t.events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    return (
        u.groupBy(F.col("k").alias("events_per_user"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("events_per_user")
    )


# -------- wave 13 (post-window): gaps-and-islands & LOCF imputation


@query(
    "events_longest_daily_streak",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), isl AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY day) AS INT)
               AS island
      FROM d
    ), runs AS (
      SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len,
             MIN(day) AS streak_start
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           MAX(len) AS longest_streak_days,
           strftime(MIN(CASE WHEN len = mx THEN streak_start END),
                    '%Y-%m-%d') AS streak_start
    FROM (SELECT *, MAX(len) OVER (PARTITION BY user_id) AS mx FROM runs)
    GROUP BY user_id ORDER BY user_id
    """,
    tags=("events", "profile"),
)
def events_longest_daily_streak(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands shape (day − row_number = constant within an
    unbroken run), the engagement metric behind every 'N-day streak'
    product surface. Deterministic: ties between equal-length streaks
    resolve to the earliest start.

    Plan: distinct (user, day) — already a tiny relation (≤ users × days)
    — then ONE user-keyed window for the island key and two shrinking
    keyed aggs. The windows ride per-user day counts, never event
    counts."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "events")
    d = t.events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    isl = d.select(
        "user_id", "day",
        F.date_sub("day", F.row_number().over(w)).alias("island"),
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("day").alias("streak_start"),
    )
    mx = F.max("len").over(W.partitionBy("user_id"))
    return (
        runs.withColumn("mx", mx)
        .groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak_days"),
            F.date_format(
                F.min(F.when(F.col("len") == F.col("mx"), F.col("streak_start"))),
                "yyyy-MM-dd",
            ).alias("streak_start"),
        )
        .orderBy("user_id")
    )


@query(
    "events_locf_imputation",
    oracle="""
    WITH nulled AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_id % 5 <> 0
                  THEN CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT)
             END AS cents
      FROM events
    ), filled AS (
      SELECT event_id, user_id, (cents IS NULL) AS was_null,
             LAST_VALUE(cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS filled_cents
      FROM nulled
    )
    SELECT event_id, user_id, was_null, filled_cents
    FROM filled ORDER BY event_id
    """,
    tags=("events", "window"),
)
def events_locf_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward imputation per user stream — the
    standard gap-filling rule for sensor/feature values (a missing
    reading inherits the most recent real one; leading NULLs stay NULL
    because inventing a value before the first observation is worse than
    honesty). The corpus has no NULLs, so the query deterministically
    nulls every 5th event (identically in both engines) and must restore
    exactly the carried values — DECIMAL-cents, engine-exact.

    Plan: ONE user-keyed window with last(ignorenulls) over the preceding
    frame — per-user state is one value; same shuffle the sessionizer
    pays. Linear at any event volume."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(10,2)") * 100).cast("long")
    nulled = t.events.select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_id") % 5 != 0, cents).alias("cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        nulled.select(
            "event_id", "user_id",
            F.col("cents").isNull().alias("was_null"),
            F.last("cents", ignorenulls=True).over(w).alias("filled_cents"),
        )
        .orderBy("event_id")
    )
