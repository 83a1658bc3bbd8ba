"""Every oracle-backed query in the registry must match DuckDB at sf0.001.

This mirrors the driver's t2 gate (which runs at sf0.01 — see
tests/test_oracle_sf001.py marker below); sf0.001 keeps the suite fast.
"""

import pytest

from sea_streamer_spark.plans.queries import QUERIES

from .oracle import check_query

ORACLE_QUERIES = sorted(n for n, q in QUERIES.items() if q.oracle is not None)

#: Queries whose oracle embeds data-derived constants for the driver's gate
#: sf (import-time builders) — compare them at that sf, not the suite's.
_PINNED_SF = {
    "similarity_ann_ivf",
    "similarity_ann_pq",
    "similarity_ann_ivf_pq",
    "agg_approx_sketches",
    "dedup_semantic_ivf",
    "embedding_whiten_project",
}


def test_no_silent_oracle_drops():
    """With gate data present, EVERY registered query must carry an oracle
    (r3 ADVICE #1: a swallowed import-time trainer error used to register
    oracle=None, silently dropping the query from every sweep — the sweep
    filter `oracle is not None` hides that). Import-time builders now
    re-raise on present-but-broken gate data; this pins the contract."""
    import os

    from sea_streamer_spark.plans.fragments import ORACLE_SF_DIR

    if not os.path.exists(os.path.join(ORACLE_SF_DIR, "documents.parquet")):
        pytest.skip("gate testdata absent")
    missing = sorted(n for n, q in QUERIES.items() if q.oracle is None)
    assert missing == [], f"registered without an oracle: {missing}"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_query(spark, sf_dir, name):
    if name in _PINNED_SF:
        from sea_streamer_spark.plans.fragments import ORACLE_SF_DIR

        sf_dir = ORACLE_SF_DIR
    rows = check_query(spark, name, sf_dir)
    assert rows >= 0
