"""Graph analytics over the near-dup graph: PageRank, k-core, harmonic
centrality, clustering, assortativity, modularity, label propagation,
TextRank and link prediction.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import dedup as D
from ..operators import graph as G
from ..operators.exact import idiv_col
from ..operators.linkpred import aa_graph
from ..operators.rounds import iterate
from ..sources.tables import load_tables
from .fragments import (
    AA_GRAPH_CTES,
    DUCK_CC_LABELS,
    DUCK_SHINGLE_SETS,
    NEAR_DUP_PAIRS,
    UNDIRECTED_EDGES,
    undirected_edges_sql,
)
from .registry import query


_PR_ITERS = 4


def near_dup_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b): the J >= 1/2 MinHash-LSH near-dup pairs, the graph
    every query in this module walks (the dedup_clusters pair list)."""
    return D.minhash_lsh_dedup(docs, threshold=0.5).select("doc_a", "doc_b")


def _build_pagerank_oracle() -> str:
    rounds = []
    for k in range(1, _PR_ITERS + 1):
        rounds.append(f"""
    c{k} AS (
      SELECT e.v AS node, SUM((p.s * 17) // (20 * d.deg)) AS inc
      FROM e JOIN it{k-1} p ON p.node = e.u JOIN deg d ON d.u = e.u
      GROUP BY e.v
    ), it{k} AS (
      SELECT n.node, CAST(150000 + COALESCE(c.inc, 0) AS BIGINT) AS s
      FROM n LEFT JOIN c{k} c USING (node)
    )""")
    return f"""
    WITH {DUCK_SHINGLE_SETS},
    pairs AS (
      {NEAR_DUP_PAIRS}
    ),
    e AS ({UNDIRECTED_EDGES}),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY u),
    n AS (SELECT doc_id AS node FROM documents),
    it0 AS (SELECT node, CAST(1000000 AS BIGINT) AS s FROM n),
    {",".join(rounds)}
    SELECT n.node AS doc_id,
           CAST(COALESCE(d.deg, 0) AS BIGINT) AS degree,
           f.s AS score_micro
    FROM n LEFT JOIN deg d ON d.u = n.node
    JOIN it{_PR_ITERS} f USING (node)
    ORDER BY doc_id"""


@query(
    "graph_neardup_pagerank",
    oracle=_build_pagerank_oracle(),
    tags=("llm", "dedup", "graph"),
)
def graph_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup graph
    (operators/graph.pagerank_fixed): MinHash-LSH verified pairs as the
    edge list, 4 synchronous integer-fixed-point push rounds — the
    canonical-representative signal that upgrades dedup_clusters' min-id
    keep-rule to "keep the most-connected member of each dup family".
    Engine-exact: BIGINT micro scores, integer-quotient contributions, so
    the unrolled-CTE DuckDB replay matches bit-for-bit. Edges partition
    once and stay put; each round shuffles only the per-node score row."""
    t = load_tables(spark, sf_dir, "documents")
    pairs = near_dup_pairs(t.documents)
    return G.pagerank_fixed(t.documents, pairs, iters=_PR_ITERS).orderBy(
        "doc_id"
    )


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
    docs = load_tables(spark, sf_dir, "documents").documents
    pairs = near_dup_pairs(docs)

    def peel(e: DataFrame) -> DataFrame:
        keep = (
            e.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("u")
        )
        return (
            e.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )

    e = iterate(G.symmetrize(pairs).localCheckpoint(eager=True), peel, _KCORE_ROUNDS)
    return (
        e.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .select(F.col("u").alias("doc_id"), "degree")
        .orderBy("doc_id")
    )


# Wave 17 — harmonic centrality over the near-dup graph (Boldi & Vigna
# 2014, the axiomatically-sound centrality; completes the graph family:
# CC → representatives, PageRank → influence, triangles → cohesion,
# BFS → eccentricity, k-core → density, THIS → closeness-with-axioms).
# In dedup terms: a high-harmonic document sits near everything in a
# duplication family — the natural canonical-representative score.
def _build_harmonic_oracle() -> str:
    return f"""
    WITH RECURSIVE {DUCK_SHINGLE_SETS},
    pairs AS (
      {NEAR_DUP_PAIRS}
    ),
    e AS ({undirected_edges_sql("UNION")}),
    bfs(s, n, d) AS (
      SELECT u, v, 1 FROM e
      UNION
      SELECT b.s, e.v, b.d + 1 FROM bfs b JOIN e ON e.u = b.n
      WHERE b.d < 8 AND e.v <> b.s
    ),
    md AS (SELECT s, n, MIN(d) AS d FROM bfs GROUP BY s, n)
    SELECT n AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_reachable,
           CAST(SUM(CAST(ROUND(1000000.0 / d) AS BIGINT)) AS BIGINT)
             AS harmonic_micro
    FROM md GROUP BY n ORDER BY doc_id"""


@query(
    "graph_harmonic_centrality",
    oracle=_build_harmonic_oracle(),
    tags=("llm", "dedup", "graph"),
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality per document over the near-dup graph (Boldi &
    Vigna 2014: H(v) = Σ 1/d(u,v) — the centrality satisfying all their
    axioms, robust to disconnected graphs where closeness is not): the
    natural canonical-representative score inside duplication families.
    Distances by multi-source frontier expansion capped at 8 hops
    (near-dup components have diameter 1-3; the >8-hop contribution is
    < 0.125 per pair, stated); reciprocals are micro-rounded per pair
    (exact integers for every d) and summed order-free, so the driver
    hash pins the full distance structure. Only docs with ≥1 near-dup
    edge appear (isolated docs have H = 0 by definition and would bloat
    the relation with zeros).

    Plan: the LSH pair list symmetrized once; each BFS round is ONE
    (frontier ⋈ edges) join + a (s, n)-keyed min — all graph-sized, the
    corpus is never touched after candidate generation. The DuckDB
    oracle replays the identical capped BFS as a recursive CTE."""
    docs = load_tables(spark, sf_dir, "documents").documents
    pairs = near_dup_pairs(docs)
    return (
        G.harmonic_centrality(pairs)
        .select(
            F.col("node").alias("doc_id"), "n_reachable", "harmonic_micro"
        )
        .orderBy("doc_id")
    )


# Local clustering coefficient (Watts & Strogatz 1998) over the near-dup
# graph — the graph family's cohesion-per-node companion to the triangle
# counts: local CC = 2*tri(v) / (deg(v)*(deg(v)-1)) separates template
# families (cliquish neighborhoods, CC -> 1) from borderline-match
# chains (CC -> 0) per NODE, where the raw triangle count conflates
# cohesion with degree. Integer counts + one double division of exact
# integers, permille-floored; deg < 2 reports -1 (undefined, flagged,
# never NULL-ambiguous).
@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {DUCK_SHINGLE_SETS},
    pairs AS (
      {NEAR_DUP_PAIRS}
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT doc_a AS node FROM pairs
        UNION ALL SELECT doc_b FROM pairs
      ) GROUP BY node
    ),
    tri AS (
      SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    pertri AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    )
    SELECT d.node, d.degree,
           COALESCE(t.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree < 2 THEN CAST(-1 AS BIGINT)
                ELSE CAST(FLOOR(2000.0 * COALESCE(t.n_triangles, 0)
                                / (d.degree * (d.degree - 1))) AS BIGINT)
           END AS local_cc_permille
    FROM deg d LEFT JOIN pertri t ON t.node = d.node
    ORDER BY d.node
    """,
    tags=("llm", "dedup", "graph"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the near-dup pair graph
    (MinHash-LSH threshold-exact pairs, the dedup_clusters convention;
    oracle recomputes from exact-Jaccard pairs). Triangles via the
    oriented-edge join (counted once, volume ~ sum of deg^2); degrees via
    one endpoint-exploded count; CC = 2*tri/(deg*(deg-1)) permille-
    floored from exact integers, -1 when deg < 2. Everything after the
    pair relation is graph-sized."""
    docs = load_tables(spark, sf_dir, "documents").documents
    # r12: pairs feeds the degree union (×2) AND the three-way oriented
    # triangle join — one eager checkpoint, one LSH build (guide §3.3)
    pairs = near_dup_pairs(docs).localCheckpoint(eager=True)
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionAll(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
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
    pertri = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    joined = deg.join(pertri, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
            "n_triangles"
        ),
    )
    cc = F.floor(
        F.lit(2000.0)
        * F.col("n_triangles")
        / (F.col("degree") * (F.col("degree") - 1))
    ).cast("long")
    return joined.select(
        "node",
        "degree",
        "n_triangles",
        F.when(F.col("degree") < 2, F.lit(-1).cast("long"))
        .otherwise(cc)
        .alias("local_cc_permille"),
    ).orderBy("node")


# PageRank convergence curve — the measured justification for the
# family's iters=4 choice (graph_neardup_pagerank): per synchronous
# round, the L1 residual of the integer-fixed-point scores and the
# count of nodes that moved at all. Integer scores make "converged"
# EXACT (n_changed = 0 is a fixpoint, not an epsilon): the curve shows
# geometric decay and the exact round where the dup-graph ranking
# stops moving. Same update rule, seed, and floor as
# operators/graph.pagerank_fixed — (s*17) div (20*deg), seed 1e6,
# floor 150000 — so the curve describes exactly the shipped operator.
_PRC_ITERS = 6


def _build_pr_convergence_oracle() -> str:
    rounds = []
    for k in range(1, _PRC_ITERS + 1):
        rounds.append(f"""
    c{k} AS MATERIALIZED (
      SELECT e.v AS node, SUM((p.s * 17) // (20 * d.deg)) AS inc
      FROM e JOIN it{k - 1} p ON p.node = e.u JOIN deg d ON d.u = e.u
      GROUP BY e.v
    ), it{k} AS MATERIALIZED (
      SELECT n.node, CAST(150000 + COALESCE(c.inc, 0) AS BIGINT) AS s
      FROM n LEFT JOIN c{k} c USING (node)
    )""")
    residuals = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS iteration,"
        f" CAST(SUM(ABS(b.s - a.s)) AS BIGINT) AS l1_residual_micro,"
        f" CAST(SUM(CAST(b.s <> a.s AS BIGINT)) AS BIGINT) AS n_changed"
        f" FROM it{k - 1} a JOIN it{k} b USING (node)"
        for k in range(1, _PRC_ITERS + 1)
    )
    return f"""
    WITH {DUCK_SHINGLE_SETS},
    pairs AS MATERIALIZED (
      {NEAR_DUP_PAIRS}
    ),
    e AS MATERIALIZED ({UNDIRECTED_EDGES}),
    deg AS MATERIALIZED (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY u),
    n AS (SELECT doc_id AS node FROM documents),
    it0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS s FROM n),
    {",".join(rounds)}
    SELECT * FROM ({residuals}) ORDER BY iteration
    """


@query(
    "graph_pagerank_convergence",
    oracle=_build_pr_convergence_oracle(),
    tags=("llm", "dedup", "graph", "eval"),
)
def graph_pagerank_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round L1 residual + moved-node count for the integer
    fixed-point PageRank over the near-dup graph (6 rounds). Isolated
    nodes are handled in closed form — they fall to the floor in round
    1 (residual 850000 each) and never move again — so the iteration
    itself stays graph-sized exactly like the shipped operator; only
    the active set shuffles per round. Expect geometric decay; the
    round where n_changed reaches zero is the exact fixpoint."""
    t = load_tables(spark, sf_dir, "documents")
    docs = t.documents
    pairs = near_dup_pairs(docs)
    base = docs.select(F.col("doc_id").alias("node"))
    ed, _, act, s = G.pagerank_active(base, pairs)
    n_total = docs.count()
    n_active = act.count()
    n_isolated = n_total - n_active

    def step(state):
        # r13: s_next is referenced 3× (next round and both residuals), so
        # it is checkpointed, but lazily: the 6 rounds and all residual
        # aggregates evaluate in the ONE collect below. r12: the residuals
        # are DEFERRED to that collect, not a driver round-trip per round.
        s, per_round = state
        s_next = G.pagerank_round(ed, act, s)
        resid = (
            s.withColumnRenamed("s", "s_prev")
            .join(s_next, "node")
            .agg(
                F.sum(F.abs(F.col("s") - F.col("s_prev")))
                .cast("long")
                .alias("resid"),
                F.sum((F.col("s") != F.col("s_prev")).cast("long"))
                .cast("long")
                .alias("moved"),
            )
            .select(F.lit(len(per_round) + 1).cast("long").alias("k"), "resid", "moved")
        )
        return s_next, per_round + [resid]

    stats: list[tuple[int, int, int]] = []
    try:
        _, per_round = iterate((s, []), step, _PRC_ITERS)
        allstats = functools.reduce(DataFrame.unionByName, per_round)
        by_k = {int(r["k"]): r for r in allstats.collect()}
        for k in range(1, _PRC_ITERS + 1):
            row = by_k[k]
            resid, moved = int(row["resid"] or 0), int(row["moved"] or 0)
            if k == 1:  # isolated nodes: 1e6 -> floor, closed form
                resid += n_isolated * 850_000
                moved += n_isolated
            stats.append((k, resid, moved))
    finally:
        ed.unpersist()
    return spark.createDataFrame(
        stats, "iteration long, l1_residual_micro long, n_changed long"
    )


# TextRank keyword extraction (Mihalcea & Tarau, "TextRank: Bringing
# Order into Texts", EMNLP 2004): PageRank over the word co-occurrence
# graph. The standard implementation shape (gensim/summa): filter the
# token stream (here: drop the corpus' top-K most frequent tokens, the
# same data-driven stop rule RAKE uses), take adjacency in the FILTERED
# sequence as the co-occurrence window, build the weighted undirected
# graph, and run the weighted PageRank. K matches RAKE's corpus-aware
# choice (_RAKE_STOPS = 5): this fixture's vocabulary is 31 words, so a
# web-scale K would empty the graph.
#     WS(v) = (1-d) + d·Σ_u  w_uv / strength(u) · WS(u),  d = 0.85
# as the registry's exact-integer fixpoint (graph_pagerank_convergence's
# recipe: micro-unit scores, 17/20 rational damping, per-edge floor
# division — both engines reproduce every round bit-for-bit).
_TR_STOPS = 5


_TR_ITERS = 6


_TR_TOPK = 20


def _build_textrank_oracle() -> str:
    from ..operators.text import duck_tokens

    toks = duck_tokens("text")
    rounds = []
    for k in range(1, _TR_ITERS + 1):
        rounds.append(f"""
    c{k} AS MATERIALIZED (
      SELECT e.v AS node,
             CAST(SUM((p.s * 17 * e.wt) // (20 * st.strength)) AS BIGINT)
               AS inc
      FROM e JOIN it{k - 1} p ON p.node = e.u JOIN st ON st.u = e.u
      GROUP BY e.v
    ), it{k} AS MATERIALIZED (
      SELECT st.u AS node, CAST(150000 + COALESCE(c.inc, 0) AS BIGINT) AS s
      FROM st LEFT JOIN c{k} c ON c.node = st.u
    )""")
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, pos, w FROM (
        SELECT doc_id, generate_subscripts({toks}, 1) AS pos,
               unnest({toks}) AS w
        FROM documents)
    ),
    stop AS MATERIALIZED (
      SELECT w FROM (
        SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        ORDER BY c DESC, w LIMIT {_TR_STOPS})
    ),
    seq AS MATERIALIZED (
      SELECT w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM tok WHERE w NOT IN (SELECT w FROM stop)
    ),
    pairs AS MATERIALIZED (
      SELECT least(w, w2) AS wa, greatest(w, w2) AS wb,
             CAST(COUNT(*) AS BIGINT) AS wt
      FROM seq WHERE w2 IS NOT NULL AND w <> w2 GROUP BY 1, 2
    ),
    e AS MATERIALIZED (
      SELECT wa AS u, wb AS v, wt FROM pairs
      UNION ALL SELECT wb, wa, wt FROM pairs
    ),
    st AS MATERIALIZED (
      SELECT u, CAST(SUM(wt) AS BIGINT) AS strength FROM e GROUP BY u
    ),
    it0 AS MATERIALIZED (
      SELECT u AS node, CAST(1000000 AS BIGINT) AS s FROM st
    ),
    {",".join(rounds)}
    SELECT p.node AS word, p.s AS score_micro, st.strength
    FROM it{_TR_ITERS} p JOIN st ON st.u = p.node
    ORDER BY p.s DESC, p.node LIMIT {_TR_TOPK}
    """


@query(
    "text_textrank_keywords",
    oracle=_build_textrank_oracle(),
    tags=("llm", "text", "graph"),
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 TextRank keywords: weighted-PageRank scores (micro, after
    6 exact-integer rounds) over the filtered-adjacency word
    co-occurrence graph, with each word's edge strength. Plan: one
    tokenize explode; the stop list is a bounded top-K broadcast
    anti-join; the graph relations are vocab-bounded; each round is one
    keyed join+agg over the edge relation with a localCheckpoint lineage
    break (the graph-op discipline); the report is a TakeOrdered."""
    from ..operators.text import tokens

    docs = load_tables(spark, sf_dir, "documents").documents
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    )
    stop = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(_TR_STOPS)
        .select("w")
    )
    seq = tok.join(F.broadcast(stop), "w", "left_anti").select(
        "w",
        F.lead("w").over(
            Window.partitionBy("doc_id").orderBy("pos")
        ).alias("w2"),
    )
    pairs = (
        seq.filter(F.col("w2").isNotNull() & (F.col("w") != F.col("w2")))
        .groupBy(
            F.least("w", "w2").alias("wa"), F.greatest("w", "w2").alias("wb")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("wt"))
    )
    e = G.symmetrize(pairs, "wa", "wb", carry=("wt",))
    st = e.groupBy("u").agg(F.sum("wt").cast("long").alias("strength"))
    # r13: ed/nodes stay eagerly materialized (each is referenced every
    # round), but the per-round ``s`` checkpoint is GONE: the round
    # lineage is LINEAR (each s feeds only the next round), so the whole
    # 6-round chain evaluates lazily in ONE action instead of paying an
    # eager driver round-trip per round (guide §5; interleaved A/B
    # 3.14 → 2.52 s, results bit-identical). This is the lever the r12
    # HITS attempts could not use — HITS references its state twice per
    # half-round (normalization), TextRank exactly once.
    ed = e.join(st, "u").select("u", "v", "wt", "strength").localCheckpoint(
        eager=True
    )
    nodes = st.select(F.col("u").alias("node"), "strength").localCheckpoint(
        eager=True
    )
    s = nodes.select("node", F.lit(1_000_000).cast("long").alias("s"))
    for _k in range(_TR_ITERS):
        contrib = (
            ed.join(s.withColumnRenamed("node", "u"), "u")
            .select(
                F.col("v").alias("node"),
                F.expr("(s * 17 * wt) div (20 * strength)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("inc"))
        )
        s = (
            nodes.select("node")
            .join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(150_000) + F.coalesce(F.col("inc"), F.lit(0)))
                .cast("long")
                .alias("s"),
            )
        )
    return (
        s.join(nodes, "node")
        .select(
            F.col("node").alias("word"),
            F.col("s").alias("score_micro"),
            "strength",
        )
        .orderBy(F.desc("score_micro"), "word")
        .limit(_TR_TOPK)
    )


# Degree assortativity of the near-dup graph (Newman, "Assortative
# mixing in networks", PRL 2002): the Pearson correlation of endpoint
# degrees over edges — positive means duplicates of hubs link to other
# hubs (crawler boilerplate clusters), negative means star-shaped
# template families. Over the symmetric directed edge list with
# j = deg(u), k = deg(v):
#     r = (2M·Σjk - (Σj)²) / (2M·Σj² - (Σj)²)
# — every sum an exact integer (degrees are small; the quotient is the
# single milli-rounded float). Same J >= 1/2 exact pair list as
# dedup_clusters, single-sourced.
@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {DUCK_SHINGLE_SETS},
    pairs AS (
      {NEAR_DUP_PAIRS}
    ),
    e AS ({UNDIRECTED_EDGES}),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY u),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m2,
             CAST(SUM(du.d) AS BIGINT) AS sj,
             CAST(SUM(du.d * dv.d) AS BIGINT) AS sjk,
             CAST(SUM(du.d * du.d) AS BIGINT) AS sjj
      FROM e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           CAST(m2 // 2 AS BIGINT) AS n_edges,
           CAST(CASE WHEN m2 * sjj - sj * sj = 0 THEN 0
                ELSE ROUND(1000.0 * (m2 * sjk - sj * sj)
                           / (m2 * sjj - sj * sj)) END AS BIGINT)
             AS assortativity_milli
    FROM s
    """,
    tags=("llm", "dedup", "graph"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the near-dup graph (milli), with
    node and edge counts. Plan: the pair list is the production LSH
    join; degrees and the three moment sums are two keyed aggregates
    over the edge relation — all graph-sized."""
    docs = load_tables(spark, sf_dir, "documents").documents
    # r12: the pair list is referenced 6+ times below (×2 union, two deg
    # joins, n_nodes) and the LSH verify chain was re-run for the copies
    # exchange reuse could not cover — one eager checkpoint makes the
    # build single-evaluation (measured −72% on this query; guide §3.3).
    pairs = near_dup_pairs(docs).localCheckpoint(eager=True)
    e = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    j = e.join(deg, "u").select("v", F.col("d").alias("du"))
    jk = j.join(deg.withColumnRenamed("u", "v"), "v").select(
        "du", F.col("d").alias("dv")
    )
    s = jk.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum("du").cast("long").alias("sj"),
        F.sum(F.col("du") * F.col("dv")).cast("long").alias("sjk"),
        F.sum(F.col("du") * F.col("du")).cast("long").alias("sjj"),
    )
    den = F.col("m2") * F.col("sjj") - F.col("sj") * F.col("sj")
    return s.crossJoin(F.broadcast(n_nodes)).select(
        "n_nodes",
        idiv_col(F.col("m2"), F.lit(2)).alias("n_edges"),
        F.when(den == 0, F.lit(0))
        .otherwise(
            F.round(
                F.lit(1000.0)
                * (F.col("m2") * F.col("sjk") - F.col("sj") * F.col("sj"))
                / den
            )
        )
        .cast("long")
        .alias("assortativity_milli"),
    )


# Modularity of the near-dup partition (Newman & Girvan, "Finding and
# evaluating community structure in networks", PRE 2004): for the
# connected-component partition the dedup pipeline actually uses,
#     Q = Σ_c [ m_c/m − (d_c/2m)² ] = Σ_c (4m·m_c − d_c²) / 4m²
# — with components every edge is intra (Σm_c = m), so Q measures how
# BALANCED the duplicate families are (one giant boilerplate component
# drives Q → 0; many small families → Q → 1). Numerator sums are exact
# integers; the final division is the one micro-rounded float. Cluster
# labels single-sourced with dedup_clusters (operators/graph.py).
@query(
    "graph_neardup_modularity",
    oracle=f"""
    WITH RECURSIVE {DUCK_SHINGLE_SETS},
    pairs AS (
      {NEAR_DUP_PAIRS}
    ),
    e AS ({UNDIRECTED_EDGES}),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY u),
    {DUCK_CC_LABELS},
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
    mc AS (
      SELECT l.cluster, CAST(COUNT(*) AS BIGINT) AS m_c
      FROM pairs p JOIN lbls l ON l.node = p.doc_a GROUP BY l.cluster
    ),
    dc AS (
      SELECT l.cluster, CAST(SUM(deg.d) AS BIGINT) AS d_c
      FROM deg JOIN lbls l ON l.node = deg.u GROUP BY l.cluster
    ),
    parts AS (
      SELECT mc.cluster, mc.m_c, dc.d_c
      FROM mc JOIN dc ON dc.cluster = mc.cluster
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM parts) AS n_components,
           (SELECT m FROM m) AS n_edges,
           CAST(SUM(4 * (SELECT m FROM m) * m_c - d_c * d_c) AS BIGINT)
             AS q_numerator,
           CAST(ROUND(1000000.0
                * SUM(4 * (SELECT m FROM m) * m_c - d_c * d_c)
                / (4.0 * (SELECT m FROM m) * (SELECT m FROM m)))
                AS BIGINT) AS modularity_micro
    FROM parts
    """,
    tags=("llm", "dedup", "graph"),
)
def graph_neardup_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity (micro) of the connected-component
    partition of the near-dup graph, with the exact integer numerator
    Σ(4m·m_c − d_c²) exposed so the one float is auditable. Plan: pairs
    from the production LSH join, components from the shipped hash-min
    CC operator, then everything lives on the component dimension."""
    docs = load_tables(spark, sf_dir, "documents").documents
    pairs = near_dup_pairs(docs).cache()
    try:
        e = pairs.select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        ).unionByName(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
        lbls = (
            G.dedup_clusters(docs, pairs)
            .withColumnRenamed("doc_id", "node")
            .withColumnRenamed("cluster_id", "cluster")
            .join(deg.withColumnRenamed("u", "node"), "node")
        )
        m_row = pairs.agg(F.count(F.lit(1)).cast("long").alias("m"))
        mc = (
            pairs.join(
                lbls.select("node", "cluster").withColumnRenamed(
                    "node", "doc_a"
                ),
                "doc_a",
            )
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("long").alias("m_c"))
        )
        dc = lbls.groupBy("cluster").agg(
            F.sum("d").cast("long").alias("d_c")
        )
        parts = mc.join(dc, "cluster").crossJoin(F.broadcast(m_row))
        out = parts.agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.max("m").cast("long").alias("n_edges"),
            F.sum(
                4 * F.col("m") * F.col("m_c") - F.col("d_c") * F.col("d_c")
            )
            .cast("long")
            .alias("q_numerator"),
            F.round(
                F.lit(1_000_000.0)
                * F.sum(
                    4 * F.col("m") * F.col("m_c")
                    - F.col("d_c") * F.col("d_c")
                )
                / (4.0 * F.max("m") * F.max("m"))
            )
            .cast("long")
            .alias("modularity_micro"),
        )
        out = out.localCheckpoint(eager=True)
    finally:
        pairs.unpersist()
    return out


# Synchronous label propagation communities (Raghavan, Albert & Kumara,
# Phys. Rev. E 2007) on the registered co-purchase graph — near-linear
# community detection, the standard first look before modularity
# optimization (the registered greedy-modularity row). Determinized the
# house way: 8 SYNCHRONOUS rounds (every node updates from the previous
# round's labels), each node takes the most frequent neighbor label
# with ties broken by the SMALLEST label — both engines compute the
# identical fixed sequence, the oracle unrolls the rounds as CTE stages
# (the Markov-stationary pattern). Graph single-sourced from
# operators/linkpred.aa_graph and fragments.AA_GRAPH_CTES, so this row scores the same graph as
# the AA and modularity rows.
_LPA_ROUNDS = 8


def _build_lpa_oracle() -> str:

    stages = ["l0 AS (SELECT u, u AS lab FROM nodes)"]
    for i in range(1, _LPA_ROUNDS + 1):
        stages.append(f"""c{i} AS (
      SELECT e.u, l.lab, COUNT(*) AS c
      FROM e JOIN l{i - 1} l ON l.u = e.v
      GROUP BY e.u, l.lab
    ),
    l{i} AS (
      SELECT u, lab FROM (
        SELECT u, lab,
               ROW_NUMBER() OVER (PARTITION BY u ORDER BY c DESC, lab)
                 AS rn
        FROM c{i}
      ) WHERE rn = 1
    )""")
    chain = ",\n    ".join(stages)
    return f"""
    WITH {AA_GRAPH_CTES},
    nodes AS (SELECT DISTINCT u FROM e),
    {chain},
    sized AS (
      SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS size
      FROM l{_LPA_ROUNDS} GROUP BY lab
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY size DESC, community)
                AS BIGINT) AS rank,
           CAST(community AS BIGINT) AS community, size
    FROM sized
    ORDER BY size DESC, community
    LIMIT 10
    """


@query(
    "graph_label_propagation",
    oracle=_build_lpa_oracle(),
    tags=("llm", "graph"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 LPA communities (size desc, label asc) after 8 synchronous
    min-tie-break rounds on the co-purchase graph. Each round is one
    edge join + one (node, label) aggregate + one node-keyed window —
    rounds are K-bounded plan stages, never data-dependent loops."""
    from pyspark.sql.window import Window


    _pairs, e, _deg, _wedges = aa_graph(spark, sf_dir)
    labels = e.select("u").distinct().select(
        "u", F.col("u").alias("lab")
    )
    for _ in range(_LPA_ROUNDS):
        counted = (
            e.join(
                labels.select(
                    F.col("u").alias("v"), F.col("lab")
                ),
                "v",
            )
            .groupBy("u", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # r12: the per-round pick is an argmax (max count, min label on
        # ties) — min(struct(-c, lab)) in ONE keyed aggregate with
        # map-side partial aggregation, instead of a row_number window
        # that paid a per-round sort on top of the (u) shuffle
        # (guide §2.3 "aggregate before you shuffle"). Struct order is
        # lexicographic, so min(-c, lab) == (max c, then min lab),
        # exactly the old ORDER BY c DESC, lab ASC rank-1 row.
        labels = (
            counted.groupBy("u")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"), F.col("lab").alias("lab")
                    )
                ).alias("b")
            )
            .select("u", F.col("b.lab").alias("lab"))
        )
    sized = labels.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    return (
        sized.select(
            F.row_number()
            .over(Window.orderBy(F.desc("size"), F.asc("community")))
            .cast("long")
            .alias("rank"),
            F.col("community").cast("long").alias("community"),
            "size",
        )
        .orderBy(F.desc("size"), "community")
        .limit(10)
    )


# Jaccard-coefficient link prediction (Liben-Nowell & Kleinberg, CIKM
# 2003 — the normalized sibling of the registered common-neighbors/
# Adamic-Adar rows): for non-adjacent pairs, J = |Γu ∩ Γv| / |Γu ∪ Γv|
# with the union via inclusion-exclusion — ALL integers, milli-scaled.
# Graph single-sourced from operators/linkpred.aa_graph and fragments.AA_GRAPH_CTES, so
# the three link-prediction rows rank the same wedge relation.
def _build_jaccard_lp_oracle() -> str:

    return f"""
    WITH {AA_GRAPH_CTES},
    cn AS (
      SELECT wg.u, wg.v, CAST(COUNT(*) AS BIGINT) AS c
      FROM wedges wg
      WHERE NOT EXISTS (SELECT 1 FROM pairs p
                        WHERE p.pa = wg.u AND p.pb = wg.v)
      GROUP BY wg.u, wg.v
    )
    SELECT cn.u, cn.v, cn.c AS n_common,
           CAST(du.d + dv.d - cn.c AS BIGINT) AS n_union,
           CAST(1000 * cn.c // (du.d + dv.d - cn.c) AS BIGINT)
             AS jaccard_milli
    FROM cn
    JOIN deg du ON du.u = cn.u
    JOIN deg dv ON dv.u = cn.v
    ORDER BY jaccard_milli DESC, cn.u, cn.v
    LIMIT 20
    """


@query(
    "graph_jaccard_linkpred",
    oracle=_build_jaccard_lp_oracle(),
    tags=("llm", "graph"),
)
def graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 non-edges by neighborhood Jaccard (milli; ties broken by
    (u, v)). One wedge aggregate + two degree joins — the same scale
    shape as the registered AA row (and the same hub caveat its capped
    sibling measures)."""

    pairs, _e, deg, wedges = aa_graph(spark, sf_dir)
    cn = (
        wedges.join(
            pairs,
            (wedges.u == pairs.pa) & (wedges.v == pairs.pb),
            "left_anti",
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    du = deg.select(F.col("u").alias("ju"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("jv"), F.col("d").alias("dv"))
    uni = F.col("du") + F.col("dv") - F.col("c")
    return (
        cn.join(du, cn.u == du.ju)
        .join(dv, cn.v == dv.jv)
        .select(
            "u",
            "v",
            F.col("c").alias("n_common"),
            uni.cast("long").alias("n_union"),
            idiv_col(F.col("c"), uni, scale=1000).alias("jaccard_milli"),
        )
        .orderBy(F.desc("jaccard_milli"), "u", "v")
        .limit(20)
    )


# Resource-allocation link prediction (Zhou, Lü & Zhang, Eur. Phys. J.
# B 2009): RA = Σ_w 1/deg(w) over common neighbors — the fully
# RATIONAL sibling of Adamic-Adar (1/ln needs a float; 1/deg does
# not), so this row is exact-integer end to end and closes the
# link-prediction ladder: common neighbors → Jaccard (normalized) →
# AA (log-damped) → RA (degree-damped). Same single-sourced graph.
def _build_ra_lp_oracle() -> str:

    return f"""
    WITH {AA_GRAPH_CTES},
    cand AS (
      SELECT wg.u, wg.v, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(1000000 // dw.d) AS BIGINT) AS ra
      FROM wedges wg JOIN deg dw ON dw.u = wg.w
      WHERE NOT EXISTS (SELECT 1 FROM pairs p
                        WHERE p.pa = wg.u AND p.pb = wg.v)
      GROUP BY wg.u, wg.v
    )
    SELECT u, v, c AS n_common, ra AS ra_micro
    FROM cand
    ORDER BY ra_micro DESC, u, v
    LIMIT 20
    """


@query(
    "graph_resource_allocation_linkpred",
    oracle=_build_ra_lp_oracle(),
    tags=("llm", "graph"),
)
def graph_resource_allocation_linkpred(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 non-edges by resource-allocation index (micro; per-wedge
    1/deg micro-truncated then summed — order-free exact integers).
    Identical wedge join shape to the registered AA row; the hub-cap
    posture measured there applies verbatim here."""

    pairs, _e, deg, wedges = aa_graph(spark, sf_dir)
    dw = deg.select(F.col("u").alias("w"), "d")
    cand = (
        wedges.join(
            pairs,
            (wedges.u == pairs.pa) & (wedges.v == pairs.pb),
            "left_anti",
        )
        .join(dw, "w")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum(idiv_col(F.lit(1_000_000), F.col("d")))
            .cast("long")
            .alias("ra"),
        )
    )
    return (
        cand.select(
            "u", "v", F.col("c").alias("n_common"), F.col("ra").alias("ra_micro")
        )
        .orderBy(F.desc("ra_micro"), "u", "v")
        .limit(20)
    )
