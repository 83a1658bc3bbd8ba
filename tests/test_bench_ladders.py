"""The bench scale ladders (bench.scale_*_metric) run the registered
keep-longest, SemDeDup and curation-funnel stages on a 10× replicated
corpus; their replica invariants must hold. Run at sf0.01, the smallest
scale at which every stage has duplicates to find."""

import os

import pytest

import bench


@pytest.fixture
def ladder_sf(sf_dir, monkeypatch):
    path = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if not os.path.isdir(path):
        pytest.skip(f"{path} not generated")
    monkeypatch.setattr(bench, "SF_DIR", path)
    return path


def test_scale_pipeline_ladder_is_linear(spark, ladder_sf):
    out = bench.scale_pipeline_metric(spark)
    assert out["cross_replica_pairs"] == 0
    assert out["base_pairs"] > 0 and out["base_spans_raw"] > 0
    assert out["linear"], out


def test_scale_semantic_ladder_is_linear(spark, ladder_sf):
    out = bench.scale_semantic_metric(spark)
    assert out["cross_replica_pairs"] == 0
    assert out["base_dropped"] > 0
    assert out["linear"], out


def test_scale_e2e_ladder_is_linear(spark, ladder_sf):
    out = bench.scale_e2e_metric(spark)
    assert out["cross_replica_nd_pairs"] == 0
    assert out["cross_replica_sem_candidates"] == 0
    assert out["n_sampled_total"] == out["budget"]
    assert out["linear"], out


def test_scale_semantic_planted_ladder_recall_holds(spark, ladder_sf):
    out = bench.scale_semantic_planted_metric(spark)
    assert out["base_planted_true_pairs"] > 0
    assert out["recall_holds_at_x10"], out
