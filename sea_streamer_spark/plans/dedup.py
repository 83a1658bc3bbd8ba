"""Near-duplicate documents: exact, shingle-Jaccard, MinHash-LSH, SimHash,
clusters and their incremental update, Bloom filters, entity resolution
and near-dup graph triangles and BFS levels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import dedup as D
from ..operators import graph as G
from ..operators import text as T
from ..operators.bloom import bloom_incremental_dedup
from ..sources.tables import load_tables
from .fragments import (
    DUCK_CC_LABELS,
    DUCK_SHINGLE_SETS,
    NEAR_DUP_PAIRS,
    TOKS,
    UNDIRECTED_EDGES,
    shingle_overlap_sql,
)
from .registry import query


#: The near-dup cluster chain (needs ``WITH RECURSIVE``): shingle sets,
#: Jaccard >= 0.5 ``pairs``, undirected edges ``e``, component ``lbls``.
NEAR_DUP_CLUSTERS = f"""{DUCK_SHINGLE_SETS},
    pairs AS ({NEAR_DUP_PAIRS}
    ),
    e AS ({UNDIRECTED_EDGES}),
    {DUCK_CC_LABELS}"""


JACCARD_SQL = f"""
  WITH {DUCK_SHINGLE_SETS},
  pairs AS ({shingle_overlap_sql()}
  )
  SELECT doc_a, doc_b,
         CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
  FROM pairs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
"""


def _duck_simhash_sql() -> str:
    word_hash = T.duck_char_fold("w")
    bits = []
    for i in range(D.SIMHASH_BITS):
        vote = (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(hs, x -> CASE WHEN (x >> {i}) & 1 = 1 "
            f"THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)), (a,b) -> a+b)"
        )
        bits.append(f"CASE WHEN {vote} > 0 THEN CAST(1 AS BIGINT) << {i} ELSE 0 END")
    total = " + ".join(bits)
    return f"""
      WITH h AS (SELECT doc_id, list_transform({TOKS}, w -> {word_hash}) AS hs
                 FROM documents)
      SELECT doc_id, {total} AS simhash FROM h
    """


@query(
    "dedup_exact",
    oracle="SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents GROUP BY text",
    tags=("llm", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on content."""
    t = load_tables(spark, sf_dir, "documents")
    return D.exact_dedup(t.documents)


@query("dedup_ngram_jaccard", oracle=JACCARD_SQL, tags=("llm", "dedup"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs (threshold 0.5) — the
    reference implementation the LSH path is verified against."""
    t = load_tables(spark, sf_dir, "documents")
    return D.jaccard_pairs(t.documents, threshold=0.5)


@query("dedup_minhash_lsh", oracle=JACCARD_SQL, tags=("llm", "dedup", "bench"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path near-dup detection: MinHash signatures → banded LSH
    candidate join → exact verification. Oracle = exact Jaccard (see module
    docstring for why they coincide on this corpus)."""
    t = load_tables(spark, sf_dir, "documents")
    return D.minhash_lsh_dedup(t.documents, threshold=0.5)


@query("dedup_simhash", oracle=_duck_simhash_sql(), tags=("llm", "dedup"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 30-bit SimHash fingerprints (bitwise majority vote)."""
    t = load_tables(spark, sf_dir, "documents")
    return D.simhash(t.documents)


@query(
    "dedup_simhash_neardup",
    oracle=f"""
    WITH sh AS ({_duck_simhash_sql()})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup"),
)
def dedup_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3) via the pigeonhole block join —
    candidates share at least one of 4 signature blocks, so recall is exact
    by construction while the join stays bucketed (operators/dedup.py
    simhash_near_dup). The oracle recomputes signatures in SQL and scans all
    pairs — feasible only at oracle scale, which is the point."""
    t = load_tables(spark, sf_dir, "documents")
    return D.simhash_near_dup(t.documents).orderBy("doc_a", "doc_b")


#: Near-dup cluster id per document (singletons are their own cluster);
#: also the oracle of dedup_clusters_incremental.
DEDUP_CLUSTERS_SQL = f"""
    WITH RECURSIVE {NEAR_DUP_CLUSTERS}
    SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN lbls l ON l.node = d.doc_id
    ORDER BY doc_id
    """


@query(
    "dedup_clusters",
    oracle=DEDUP_CLUSTERS_SQL,
    tags=("llm", "dedup"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH pairs → distributed hash-min
    connected components (operators/graph.py) → canonical cluster id per
    document (singletons keep their own id). The keep-one-per-cluster step
    that turns pairwise dedup output into an actual corpus reduction. Oracle
    recomputes components with a recursive CTE over the exact-Jaccard pair
    list."""
    t = load_tables(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(t.documents, threshold=0.5).select("doc_a", "doc_b")
    return G.dedup_clusters(t.documents, pairs).orderBy("doc_id")


@query(
    "dedup_bloom_incremental",
    oracle="""
    SELECT n.doc_id, md5(n.text) AS fp
    FROM documents n
    WHERE n.doc_id >= 300
      AND NOT EXISTS (
        SELECT 1 FROM documents c
        WHERE c.doc_id < 350 AND md5(c.text) = md5(n.text)
      )
    ORDER BY n.doc_id
    """,
    tags=("llm", "dedup"),
)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup through the Bloom membership gate
    (operators/bloom.py): docs ≥300 are the fresh batch, docs <350 the
    historical corpus (fingerprint = md5(text)). The registered result is
    EXACT — identical to the plain anti-join the oracle runs — because the
    filter has no false negatives and maybe-dups are verified; the Bloom's
    only job is keeping the corpus join off the provably-new rows."""
    docs = load_tables(spark, sf_dir, "documents").documents
    corpus = docs.filter(F.col("doc_id") < 350).select(F.md5("text").alias("fp"))
    new = docs.filter(F.col("doc_id") >= 300).select(
        "doc_id", F.md5("text").alias("fp")
    )
    return (
        bloom_incremental_dedup(new, corpus, "fp", m_bits=1 << 16, g=5)
        .orderBy("doc_id")
    )


# Entity resolution (dirty-duplicate record linkage over customers)

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


# Triangle counting (near-dup graph cohesion) + k-anonymity audit
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


# BFS hop distances from cluster representatives (graph.bfs_levels)
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


#: The exact-Jaccard >= 0.5 near-dup cluster assignment as a DuckDB CTE
#: chain (shared by both dedup finishers below; identical to the
#: ``dedup_clusters`` oracle above, kept verbatim so the two
#: relations can never drift apart).
DUCK_CLUSTERS = f"""
    {NEAR_DUP_CLUSTERS},
    asg AS (
      SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster_id,
             d.n_chars, d.source
      FROM documents d LEFT JOIN lbls l ON l.node = d.doc_id
    )
"""


def cluster_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    "dedup_rate_by_source",
    oracle=f"""
    WITH RECURSIVE {DUCK_CLUSTERS},
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
    v = cluster_keep_longest(spark, sf_dir)
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
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE {DUCK_CLUSTERS},
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
