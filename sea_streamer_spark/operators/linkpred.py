"""The Adamic-Adar co-purchase graph over TPC-H customers.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_tables


# Adamic-Adar / common-neighbor link prediction (Adamic & Adar 2003;
# Liben-Nowell & Kleinberg, CIKM 2003) on the PART CO-PURCHASE graph:
# which part pairs that have never met in a basket share the most
# (rarity-weighted) co-purchase partners — the classic "bought
# together next" recommender screen. The near-dup document graph is
# NOT the subject because exact-Jaccard duplicate clusters are cliques
# by construction — measured: zero open wedges at every sf and every
# threshold, so link prediction there is structurally vacuous (stated
# here rather than shipping a query that always returns nothing).
# Nodes = parts; edges = pairs co-purchased in ≥ 2 orders (support
# floor keeps edge volume at the basket-lift shape, Σ basket²). Wedge
# volume is Σ deg(w)²; every wedge center has degree ≥ 2 so 1/ln(deg)
# is finite; the per-center term is the ONE float, micro-rounded
# before the order-free sum.
LP_MIN_CO = 2


def aa_graph(spark: SparkSession, sf_dir: str):
    """Spark side of the shared co-purchase graph: (pairs, e, deg,
    wedges) exactly as the registered AA query builds them — extracted
    (pure refactor, identical plan) so the hub-capped variant
    scores the same graph.

    r12: ``pairs`` is eager-localCheckpointed — every consumer references
    the graph several times (e is a ×2 union of pairs, wedges a self-join
    of e, deg an aggregate of e; the AA/LPA/link-pred rows then join
    these against each other), and the lineitem⋈lineitem co-purchase
    build was re-evaluated for the references AQE's exchange reuse could
    not cover (measured: assortativity-class queries spend most of their
    wall re-running the pair build). The checkpoint is computed inside
    the query invocation (never reused across runs) and cuts the build
    to exactly one evaluation; pairs is co-purchase mass, not corpus
    mass, so materializing it is the right 100 TB shape too (guide §3.3:
    materialise the multiply-referenced intermediate).

    r13 (ADVICE note): eager=True means MERE PLAN CONSTRUCTION executes
    the pair build (explain-only callers pay it), and local checkpoints
    are non-reliable — on a multi-executor cluster an executor loss
    mid-query fails the job instead of recomputing lineage. Acceptable
    for the bench (single-process local mode); the cluster swap is a
    reliable checkpoint dir or persist()+count with StorageLevel
    replication."""
    li = load_tables(spark, sf_dir, "lineitem").lineitem
    # r13: the lineitem⋈lineitem self-join (2 shuffles of lineitem + the
    # join) is replaced by ONE order-keyed basket aggregate + task-local
    # pair expansion (the shared_key_pairs recipe; guide §2.4). Exactness
    # incl. duplicate partkeys within an order: the join counts
    # mult(pa)·mult(pb) per order for pa<pb; the sorted-list positional
    # expansion emits exactly one struct per position pair i<j, which is
    # the same product once equal-value pairs are filtered (pinned by
    # test_llm_ops14's aa-graph tests + the co-multiset test). Baskets
    # are order-line bounded (≤7 in TPC-H), so the expansion is O(1) per
    # order — no skew; A/B 1.57 → 1.33 s on the pairs build, inherited
    # by every aa_graph consumer (AA/jaccard/RA/LPA/assortativity).
    bk = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("ps")
    )
    ps = F.col("ps")
    pair_arr = F.flatten(
        F.transform(
            ps,
            lambda x, i: F.transform(
                F.slice(ps, i + 2, F.greatest(F.size(ps) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    pairs = (
        bk.select(F.explode(pair_arr).alias("p"))
        .filter(F.col("p.pa") < F.col("p.pb"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= LP_MIN_CO)
        .select("pa", "pb")
        .localCheckpoint(eager=True)
    )
    e = pairs.select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    ).unionByName(pairs.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
    deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    a, b = e.alias("a"), e.alias("b")
    wedges = a.join(
        b,
        (F.col("b.u") == F.col("a.u")) & (F.col("a.v") < F.col("b.v")),
    ).select(
        F.col("a.v").alias("u"), F.col("b.v").alias("v"),
        F.col("a.u").alias("w"),
    )
    return pairs, e, deg, wedges
