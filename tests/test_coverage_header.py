"""COVERAGE.md header counts are generated claims, not prose: they must
equal the live registry exactly (the r8/r9 ADVICE "one wave stale" class
— VERDICT r9 task #6 asked for this pin)."""

from __future__ import annotations

import json
import os
import re

from sea_streamer_spark.plans.queries import QUERIES

_COV = os.path.join(os.path.dirname(os.path.dirname(__file__)), "COVERAGE.md")
_PRE_WAVE = os.path.join(os.path.dirname(__file__), "data", "pre_wave_queries.json")


def test_coverage_header_counts_match_registry():
    with open(_COV, encoding="utf-8") as f:
        text = f.read()
    m = re.search(
        r"\*\*(\d+) registered\s+queries, (\d+) DuckDB-oracle-checked",
        text,
    )
    assert m, "COVERAGE.md header count sentence not found"
    n_reg, n_oracle = int(m.group(1)), int(m.group(2))
    live_reg = len(QUERIES)
    live_oracle = sum(1 for q in QUERIES.values() if q.oracle is not None)
    assert n_reg == live_reg, (
        f"COVERAGE.md header says {n_reg} registered but the registry has "
        f"{live_reg} — update the header (it is a pinned claim)"
    )
    assert n_oracle == live_oracle, (
        f"COVERAGE.md header says {n_oracle} oracle-checked but the registry "
        f"has {live_oracle}"
    )


def test_bench_new_ops_list_is_complete():
    """Every query registered from the round-6 waves on must be measured
    by bench's new_ops phase (or be a headline query) — a new
    registration can no longer silently skip the bench, and the list
    lives in ONE module-level constant instead of an inline literal
    (the r9 ADVICE stale-annotation class). The queries registered
    before those waves are frozen in tests/data/pre_wave_queries.json;
    every other registered name is a wave query."""
    import bench

    with open(_PRE_WAVE, encoding="utf-8") as f:
        pre_wave = set(json.load(f))
    wave = [n for n in QUERIES if n not in pre_wave]
    assert len(wave) >= 139, f"only {len(wave)} wave queries registered"
    bench_names = set(bench.NEW_OPS_QUERIES) | set(bench.BENCH_QUERIES)
    missing = [n for n in wave if n not in bench_names]
    assert not missing, (
        f"registered wave queries absent from bench.NEW_OPS_QUERIES: "
        f"{missing}"
    )
    # and the list only names real queries
    unknown = [n for n in bench.NEW_OPS_QUERIES if n not in QUERIES]
    assert not unknown, f"bench.NEW_OPS_QUERIES has unknown names: {unknown}"


def test_readme_inventory_count_matches_registry():
    """README's plans/ inventory count is a pinned claim too — same
    drift class as the COVERAGE.md header."""
    readme = os.path.join(os.path.dirname(_COV), "README.md")
    with open(readme, encoding="utf-8") as f:
        text = f.read()
    m = re.search(r"query inventory — (\d+) named", text)
    assert m, "README inventory count sentence not found"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} queries, registry has {len(QUERIES)}"
    )
