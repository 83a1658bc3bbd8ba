"""Distributed graph helpers for dedup: connected components over a
near-dup pair list, turning pairwise "A ~ B" edges into canonical clusters
(the keep-one-per-cluster step after MinHash/SimHash candidate generation).

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — each round is two
[groupBy-min + join] passes over the edge list that rewire every node toward
its neighborhood minimum; the edge set converges to stars centered at each
component's minimum id in O(log n) rounds *regardless of graph diameter*.
(The simpler hash-min label propagation needs diameter-many rounds: fine for
clique-ish dup clusters, silently wrong on a long chain when capped — this
implementation raises if the fixpoint is not reached instead of returning
partial labels.) Lineage is cut per round with ``localCheckpoint`` so the
plan stays bounded; the convergence probe is a count+hash aggregate, never a
collect. Each round shuffles O(|edges|) pairs — the 100 TB cost model is
rounds x one edge shuffle, with AQE coalescing as stars collapse the edge
count.

Every loop here (both component algorithms, PageRank, BFS, harmonic
centrality) is a step function run by ``operators/rounds.iterate``, which
owns the round cap, the convergence probe, the error at the cap and the
release of superseded checkpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import NotConverged, iterate, unchanged


def symmetrize(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b", carry=()
) -> DataFrame:
    """Both orientations of every pair as (u, v, *carry) in ONE pass over
    ``pairs`` (explode of two structs), not a self-union that evaluates the
    typically expensive LSH-candidate subtree twice (~25% of the query at
    bench scale, r6 measurement)."""
    extra = [F.col(c) for c in carry]
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("u"), F.col(dst).alias("v"), *extra),
                F.struct(F.col(dst).alias("u"), F.col(src).alias("v"), *extra),
            )
        ).alias("p")
    ).select("p.u", "p.v", *[f"p.{c}" for c in carry])


def _both_ways(e: DataFrame) -> DataFrame:
    return e.select("u", "v").union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def undirected(edges: DataFrame, src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Distinct (u, v) in both orientations (BFS, harmonic centrality)."""
    return _both_ways(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ).distinct()


def _canonical(e: DataFrame) -> DataFrame:
    """Undirected edge set as distinct (u, v) pairs with u > v, no loops."""
    return (
        e.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
        )
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    d = _both_ways(e)
    mins = d.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("u", "mv").alias("m"))
    out = (
        d.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return _canonical(out)


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every not-larger neighbor (and u itself) to the minimum of
    u's not-larger neighborhood. Input must be canonical (u > v)."""
    mins = e.groupBy("u").agg(F.min("v").alias("mv"))
    rewired = (
        e.join(mins, "u")
        .filter(F.col("v") != F.col("mv"))
        .select(F.col("v").alias("u"), F.col("mv").alias("v"))
    )
    self_edge = mins.select("u", F.col("mv").alias("v"))
    return _canonical(rewired.union(self_edge))


def _signature(e: DataFrame):
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor, not sum: order-independent AND overflow-free under
        # ANSI mode (the edge set is distinct, and n is compared too).
        F.expr("bit_xor(xxhash64(u, v))").alias("h"),
    ).first()
    return (row.n, row.h)


def _star_components(e: DataFrame, max_iter: int) -> DataFrame:
    """Large-star/small-star to the star-forest fixpoint; ``e`` canonical."""
    e = iterate(
        e.localCheckpoint(eager=True),
        lambda e: _small_star(_large_star(e)).localCheckpoint(eager=True),
        max_iter, unchanged(_signature), name="connected_components (star rounds)",
    )
    # At the fixpoint the edge set is a star forest: every non-root node has
    # exactly the edge (node, component-min); roots never appear on the u
    # side and label themselves.
    return e.select(F.col("u").alias("node"), F.col("v").alias("cluster")).union(
        e.select(F.col("v").alias("node"), F.col("v").alias("cluster")).distinct()
    )


def _hashmin_components(e: DataFrame, max_iter: int) -> DataFrame | None:
    """Hash-min label propagation; returns None if not converged within
    ``max_iter`` rounds (caller falls back) — never partial labels."""
    sym = _both_ways(e).localCheckpoint(eager=True)

    def step(labels: DataFrame) -> DataFrame:
        labels = labels.select("node", "cluster")
        nbr = sym.join(labels.withColumnRenamed("node", "v"), "v").select(
            F.col("u").alias("node"),
            "cluster",
            F.lit(False).alias("own"),
        )
        # r12: the change flag rides INSIDE the checkpointed frame, so the
        # probe is a narrow scan of checkpointed blocks, not its own
        # join+shuffle job. The old label comes from the same keyed
        # aggregate (each node has one ``own`` row, so ``min(cluster)
        # FILTER own`` IS the previous label), and new ≤ old always, so
        # ``chg = new < old``: one exchange per round, not two.
        return (
            labels.withColumn("own", F.lit(True))
            .union(nbr)
            .groupBy("node")
            .agg(
                F.min("cluster").alias("cluster"),
                F.min(F.when(F.col("own"), F.col("cluster"))).alias("old"),
            )
            .select(
                "node",
                "cluster",
                (F.col("cluster") < F.col("old")).alias("chg"),
            )
            .localCheckpoint(eager=True)
        )

    labels = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "cluster", F.col("node")
    )
    try:
        upd = iterate(
            labels, step, max_iter, lambda _, u: u.filter("chg").limit(1).count() == 0
        )
    except NotConverged:
        return None
    return upd.select("node", "cluster")


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Components of the undirected graph given by ``edges``.

    Returns (node, cluster) where cluster = min node id in the component.
    Only nodes appearing in at least one edge are returned — callers join
    back to the full entity table and coalesce singletons to their own id.

    Hash-min label propagation runs for up to 8 rounds — one cheap shuffle
    per round, and near-dup graphs are clique-ish with diameter 1-3 so it
    converges almost immediately. Only if the graph turns out to be
    high-diameter does it fall back to the large-star/small-star rounds:
    O(log n) rounds at any diameter, heavier per round (two groupBy+join
    passes), and an error if ``max_iter`` of them do not reach the
    fixpoint (never partial labels). Adversarial inputs pay both phases;
    typical inputs pay the cheap one.
    """
    e = _canonical(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    labels = _hashmin_components(e, 8)
    return labels if labels is not None else _star_components(e, max_iter)


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Canonical cluster assignment for every document: near-dup pair list →
    connected components → (doc, cluster_id), singletons keeping their own
    id. Downstream keep-rule: ``filter(doc_id == cluster_id)`` retains one
    representative per cluster."""
    cc = connected_components(pairs, src, dst)
    return docs.select(id_col).join(
        cc.withColumnRenamed("node", id_col), id_col, "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("cluster"), F.col(id_col)).alias("cluster_id"),
    )


def pagerank_active(
    base: DataFrame, pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b"
):
    """PageRank's graph over the corpus ``base`` (one ``node`` column):
    ``(ed, deg, act, seed)`` — the symmetrized edges hash-partitioned by
    ``u`` ONCE and cached with the source degree (the caller unpersists
    it), the degrees, the active nodes (``base`` ∩ edge endpoints; an
    endpoint outside ``base`` neither receives a score nor is output) and
    the round-0 scores."""
    # e needs no cache: deg and the join share its shuffle output
    e = symmetrize(pairs, src, dst).repartition("u")
    deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    ed = e.join(deg, "u").select("u", "v", "deg").cache()
    # graph-sized deg → broadcast semi, map-only over the one corpus scan;
    # eager checkpoint: re-read every round
    act = base.join(
        deg.withColumnRenamed("u", "node"), "node", "left_semi"
    ).localCheckpoint(eager=True)
    return ed, deg, act, act.select("node", F.lit(1_000_000).cast("long").alias("s"))


def pagerank_round(ed: DataFrame, act: DataFrame, s: DataFrame) -> DataFrame:
    """One push round over the active set, ``s' = 150000 + Σ (s*17) div
    (20*deg)``, lazily checkpointed: materialized inside the caller's
    action, not in a driver job of its own."""
    contrib = (
        ed.join(s.withColumnRenamed("node", "u"), "u")
        .select(
            F.col("v").alias("node"),
            F.expr("(s * 17) div (20 * deg)").alias("c"),
        )
        .groupBy("node")
        .agg(F.sum("c").cast("long").alias("inc"))
    )
    # left join: an active node with no contrib row stays at the floor;
    # contrib rows for targets outside `base` drop here
    return act.join(contrib, "node", "left").select(
        "node",
        (F.lit(150_000) + F.coalesce(F.col("inc"), F.lit(0))).cast("long").alias("s"),
    ).localCheckpoint(eager=False)


def pagerank_fixed(
    nodes: DataFrame,
    pairs: DataFrame,
    iters: int = 4,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Fixed-point PageRank centrality over an undirected pair list — the
    canonical-representative signal for dedup clusters (the most-connected
    member of a near-dup family is the best doc to keep; min-id is
    arbitrary). Pregel-style: ``iters`` synchronous push rounds of
    ``s' = (1-d) + d * Σ_incoming s/deg`` with d = 0.85.

    **Engine-exact by construction**: scores are BIGINT micro-units seeded
    at 1_000_000 and every per-edge contribution is the INTEGER quotient
    ``(s*17) div (20*deg)`` — no float ever enters, the per-node sum is
    order-independent, and an unrolled SQL replay (one CTE pair per round)
    reproduces the result bit-for-bit. The deliberate variant choice
    (documented, not a bug): no dangling-mass redistribution — isolated
    docs sit at the (1-d) floor, which is exactly the semantics wanted for
    "rank within your dup family".

    Plan, 100 TB-first — iterate the GRAPH, not the corpus. A node with no
    incident pair sits at the (1-d) floor after one round, so the rounds
    (:func:`pagerank_round`) run over the ACTIVE node set of
    :func:`pagerank_active`: cost = one corpus scan up front + iters ×
    graph-sized (score shuffle + contribution shuffle) + one map-only
    broadcast anti-join emitting the isolated nodes at the closed-form
    floor. Edges never re-shuffle; corpus rows are never touched inside
    the loop.
    """
    base = nodes.select(F.col(id_col).alias("node"))
    ed, deg, act, s = pagerank_active(base, pairs, src, dst)
    s = iterate(s, lambda s: pagerank_round(ed, act, s), iters)
    # deg recomputes off e's reusable shuffle output — cheaper than a
    # distinct over the cached edge×deg relation (an extra full shuffle).
    # Graph-sized eager materialization so the edge cache can be dropped
    # without the caller's first action recomputing the rounds.
    active_out = (
        s.join(deg.withColumnRenamed("u", "node"), "node")
        .select(
            F.col("node").alias(id_col),
            F.col("deg").alias("degree"),
            F.col("s").alias("score_micro"),
        )
        .localCheckpoint(eager=True)
    )
    ed.unpersist()
    # isolated nodes never enter the loop: closed-form floor after any
    # round (seed before the first). Broadcast anti-join against the tiny
    # checkpointed active set — map-only over the corpus scan, and the
    # result streams (no corpus-sized checkpoint/cache anywhere).
    iso_score = 1_000_000 if iters == 0 else 150_000
    isolated = base.join(
        act, "node", "left_anti"
    ).select(
        F.col("node").alias(id_col),
        F.lit(0).cast("long").alias("degree"),
        F.lit(iso_score).cast("long").alias("score_micro"),
    )
    return active_out.unionByName(isolated)


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    node: str = "node",
    cluster: str = "cluster",
    src: str = "doc_a",
    dst: str = "doc_b",
    **kwargs,
) -> DataFrame:
    """Incrementally maintain connected components when a batch of NEW
    edges arrives (the ingest-time form of dedup clustering: yesterday's
    cluster labels + today's near-dup pairs, without re-running CC over
    the full historical edge set).

    The previous labeling is itself a connectivity-preserving compression
    of the old graph: replacing every old edge with the STAR edge
    (node → its cluster representative) keeps the equivalence classes and
    shrinks the relation to one row per previously-paired node. Running
    :func:`connected_components` over ``star(labels) ∪ new_edges``
    therefore yields exactly the labels a full rebuild over
    ``old_edges ∪ new_edges`` would produce — including the min-id
    representative rule, because every old node is present via its star
    edge. Cost scales with |labels| + |delta|, never with the historical
    edge volume; label relations persist bucketed by node for a
    shuffle-free star side."""
    star = labels.select(F.col(node).alias("u"), F.col(cluster).alias("v"))
    delta = new_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    return connected_components(
        star.unionByName(delta), src="u", dst="v", **kwargs
    )


def bfs_levels(
    edges: DataFrame,
    roots: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    node: str = "node",
    max_iter: int = 30,
) -> DataFrame:
    """Hop distance from each node to its designated root — distributed
    BFS as iterative frontier expansion (the remaining member of the
    graph family: components → representatives, PageRank → centrality,
    triangles → cohesion, THIS → radius/eccentricity structure).

    Per round: frontier ⋈ edges → unseen neighbors at level+1; the
    undirected edge relation is partitioned once and stays put, the
    frontier/visited relations carry one row per reached node, and
    ``localCheckpoint`` cuts the iterative lineage (the
    connected_components convention). Rounds = graph eccentricity from
    the roots; raises on non-convergence rather than returning partial
    levels. Returns (node, level)."""
    und = undirected(edges, src, dst).localCheckpoint(eager=True)

    def step(state):
        # ``visited`` arrives as the lazy union of the last round's visited
        # set and frontier; it is checkpointed here, so a round whose
        # frontier comes back empty pays no extra checkpoint for it.
        visited, frontier = state
        visited = visited.localCheckpoint(eager=True)
        frontier = visited if frontier is None else frontier
        nxt = (
            frontier.join(und, frontier["n"] == und["u"])
            .select(F.col("v").alias("n"), (F.col("level") + 1).alias("level"))
            .distinct()
            .join(visited.select(F.col("n").alias("seen")),
                  F.col("n") == F.col("seen"), "left_anti")
            .groupBy("n")
            .agg(F.min("level").alias("level"))
            .localCheckpoint(eager=True)
        )
        return visited.unionByName(nxt), nxt

    roots = roots.select(F.col(node).alias("n"), F.lit(0).alias("level")).distinct()
    visited, _ = iterate(
        (roots, None), step, max_iter, lambda _, s: s[1].isEmpty(), name="bfs_levels"
    )
    return visited.select(F.col("n").alias(node), "level")


def harmonic_centrality(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_dist: int = 8,
) -> DataFrame:
    """Harmonic centrality (Boldi & Vigna, "Axioms for Centrality",
    Internet Mathematics 2014: H(v) = Σ_{u≠v} 1/d(u,v), the centrality
    that satisfies all their axioms where closeness does not): all-pairs
    hop distances by iterative multi-source frontier expansion, then one
    keyed rollup of micro-rounded reciprocals (round(1e6/d) — exact
    integers for every d, summed order-free).

    Per round: the (src, node) distance relation joins the undirected
    edge list once; near-dup graphs are clique-ish with diameter 1-3 so
    the loop exits in 2-3 rounds; ``max_dist`` caps adversarial chains
    (contribution beyond 8 hops is < 125k micro — stated, not silent).
    All relations are graph-sized (V·V worst case WITHIN components —
    near-dup components are duplication families, never the corpus).
    Returns (node, n_reachable, harmonic_micro) for nodes with ≥1 edge.
    """
    und = undirected(edges, src, dst).localCheckpoint(eager=True)
    dist = und.select(
        F.col("u").alias("s"), F.col("v").alias("n"), F.lit(1).alias("d")
    ).localCheckpoint(eager=True)

    def step(dist: DataFrame) -> DataFrame:
        grown = (
            dist.join(und, dist["n"] == und["u"])
            .filter(F.col("v") != F.col("s"))
            .select("s", F.col("v").alias("n"), (F.col("d") + 1).alias("d"))
        )
        return (
            dist.unionByName(grown)
            .groupBy("s", "n")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=True)
        )

    # stops once a round reaches no new (s, n) pair; max_dist is the
    # definition's hop cap, so reaching it is not an error
    dist = iterate(dist, step, max_dist - 1, unchanged(DataFrame.count), strict=False)
    return (
        dist.groupBy(F.col("n").alias("node"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reachable"),
            F.sum(F.round(F.lit(1_000_000.0) / F.col("d")).cast("long"))
            .cast("long")
            .alias("harmonic_micro"),
        )
    )
