"""operators/rounds.iterate: the one round driver of the Spark-side loops.

The storage cases run each loop once and take the persisted RDDs created
during the call that are still held after it. Eager loops may leave only
their invariants plus the last round's checkpoints; lazy loops keep their
per-round checkpoints until the caller's action has run (releasing them at
the end of an invocation is not done yet). Spark's ContextCleaner may
free RDDs at any time, so only upper bounds are asserted.
"""

from __future__ import annotations

import pytest

from sea_streamer_spark.operators import bpe as B
from sea_streamer_spark.operators import graph as G
from sea_streamer_spark.operators.rounds import NotConverged, iterate, unchanged
from sea_streamer_spark.plans.queries import QUERIES


def test_probed_loop_raises_at_its_cap():
    with pytest.raises(NotConverged, match="count did not converge in 3 rounds"):
        iterate(0, lambda n: n + 1, 3, lambda _, n: n > 5, name="count")


def test_cap_that_defines_the_loop_returns_the_capped_state():
    assert iterate(0, lambda n: n + 1, 3, lambda _, n: n > 5, strict=False) == 3
    assert iterate(0, lambda n: n + 1, 3) == 3


def test_unchanged_measures_each_state_once():
    seen = []

    def measure(n):
        seen.append(n)
        return min(n, 2)

    assert iterate(0, lambda n: n + 1, 10, unchanged(measure)) == 3
    assert seen == [0, 1, 2, 3]


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _left_by(spark, call) -> set[int]:
    """Persisted RDD ids that one call created and still holds. The call's
    result is collected first: it must still evaluate after the loop
    released its superseded checkpoints."""
    from pyspark.sql import DataFrame

    before = _persisted(spark)
    out = call()
    if isinstance(out, DataFrame):
        out.collect()
    return _persisted(spark) - before


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def _chain(spark, n=50):
    return _edges(spark, list(zip(range(n), range(1, n))))


# (case, call(spark, sf_dir), bound, what may stay held)
_CASES = [
    (
        "hashmin_components",
        lambda spark, _: G.connected_components(_edges(spark, [(1, 2), (2, 3), (10, 11)])),
        2,
        "the symmetrized edges + the last labels",
    ),
    (
        "star_components",
        lambda spark, _: G.connected_components(_chain(spark)),
        3,
        "hash-min's edges (its labels are released at its cap) + the star "
        "rounds' initial and last edge sets",
    ),
    (
        "pagerank_fixed",
        lambda spark, _: G.pagerank_fixed(
            spark.range(8).withColumnRenamed("id", "doc_id"),
            _edges(spark, [(0, 1), (1, 2), (2, 0), (3, 4)]),
            iters=4,
        ),
        6,
        "the active set + 4 lazy rounds + the eager output",
    ),
    (
        "bfs_levels",
        lambda spark, _: G.bfs_levels(_chain(spark, 12), spark.createDataFrame([(0,)], "node long")),
        3,
        "the undirected edges + the last visited set and frontier",
    ),
    (
        "harmonic_centrality",
        lambda spark, _: G.harmonic_centrality(_chain(spark, 6)),
        3,
        "the undirected edges + the initial and last distance relations",
    ),
    (
        "train_bpe",
        lambda spark, _: B.train_bpe(
            spark.createDataFrame([("low lower lowest newer wider",)] * 3, "text string"),
            6,
        ),
        2,
        "the initial and last word tables",
    ),
    (
        "train_wordpiece",
        lambda spark, _: B.train_wordpiece(
            spark.createDataFrame([("low lower lowest newer wider",)] * 3, "text string"),
            6,
        ),
        2,
        "the initial and last word tables",
    ),
    (
        "graph_hits_nations",
        QUERIES["graph_hits_nations"].fn,
        3,
        "the edges + the last round's ar and hr (17 before the driver)",
    ),
    (
        "events_anomaly_masked_esd",
        QUERIES["events_anomaly_masked_esd"].fn,
        2,
        "the daily totals + the last round's remainder",
    ),
    (
        "curation_kcenter_coreset",
        QUERIES["curation_kcenter_coreset"].fn,
        2,
        "the initial and last distance relations",
    ),
    (
        "graph_kcore_peel",
        QUERIES["graph_kcore_peel"].fn,
        7,
        "the 2 LSH caches of minhash_lsh_dedup + the edges + 4 lazy rounds",
    ),
    (
        "graph_pagerank_convergence",
        QUERIES["graph_pagerank_convergence"].fn,
        9,
        "the 2 LSH caches of minhash_lsh_dedup + the active set + 6 lazy rounds",
    ),
]


@pytest.mark.parametrize(
    "call, bound, held", [c[1:] for c in _CASES], ids=[c[0] for c in _CASES]
)
def test_loop_leaves_at_most_its_invariants_and_last_round(
    spark, sf_dir, call, bound, held
):
    left = _left_by(spark, lambda: call(spark, sf_dir))
    assert len(left) <= bound, f"{len(left)} persisted RDDs left; allowed: {held}"
