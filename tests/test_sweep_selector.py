"""The delta sweep (``tools/sweep_oracle.py --changed-since``) selects the
queries whose oracle embeds a fragment from a changed plans module."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_TOOL = Path(__file__).resolve().parents[1] / "tools" / "sweep_oracle.py"


def _sweep_oracle():
    spec = importlib.util.spec_from_file_location("sweep_oracle", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_changed_fragment_module_selects_its_oracle_users():
    sel = _sweep_oracle().affected_queries({"fragments"})
    # graph_bfs_levels and dedup_minhash_lsh (plans/dedup.py) embed
    # fragments.DUCK_SHINGLE_SETS; their function bodies never name
    # fragments, only their module does.
    assert "graph_bfs_levels" in sel
    assert "dedup_minhash_lsh" in sel


def test_changed_family_module_selects_its_queries():
    sel = _sweep_oracle().affected_queries({"tpch"})
    assert "q1_pricing_summary" in sel  # defined in plans/tpch.py itself
