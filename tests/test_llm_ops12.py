"""Semantic pins for the round-9 llm_ops12 wave 1 (SemDeDup semantic
dedup); the auto-parametrized oracle test covers hash parity."""

from __future__ import annotations

import math

import pyarrow.parquet as pq

from sea_streamer_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _run(spark, name, sf=SF):
    return QUERIES[name].fn(spark, sf)


def _embeddings(sf=SF) -> dict[int, list[float]]:
    t = pq.read_table(f"{sf}/embeddings.parquet", columns=["vec_id", "embedding"])
    return dict(zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()))


def _py_semantic(sf=SF):
    """Pure-python third-engine replay of the whole SemDeDup chain:
    gate-pinned centroids → dot-argmax cell assignment (smaller-cell
    tie-break) → micro-rounded cosine-to-centroid → greedy drop against
    any better-ranked (cos_c_micro, vec_id) same-cell neighbor with
    cosine ≥ threshold. Mirrors operators/similarity.cos_py's fold so
    all three engines agree bit-for-bit before the micro-rounding."""
    from sea_streamer_spark.operators.similarity import cos_py, dot_py
    from sea_streamer_spark.plans.fragments import gate_ivf_centroids
    from sea_streamer_spark.plans.fragments import SEM_CELLS, SEM_THRESHOLD

    cents = gate_ivf_centroids(n_cells=SEM_CELLS)
    assert cents is not None, "gate testdata absent"
    emb = _embeddings(sf)
    rows = {}
    for vid, v in emb.items():
        best = max(
            ((dot_py(v, cvec), -cell) for cell, cvec in cents),
        )
        cell = -best[1]
        cvec = cents[cell][1]
        micro = math.floor(cos_py(v, cvec) * 1000000.0 + 0.5)
        rows[vid] = (cell, micro)
    kept = {}
    for vid, (cell, micro) in rows.items():
        kept[vid] = not any(
            ob_cell == cell
            and (ob_micro, ovid) < (micro, vid)
            and cos_py(emb[vid], emb[ovid]) >= SEM_THRESHOLD
            for ovid, (ob_cell, ob_micro) in rows.items()
            if ovid != vid
        )
    return rows, kept


def test_semantic_cluster_full_python_replay(spark):
    rows, kept = _py_semantic()
    got = {
        r["vec_id"]: (r["cell"], r["cos_c_micro"], r["kept"])
        for r in _run(spark, "dedup_semantic_cluster").collect()
    }
    assert set(got) == set(rows)
    for vid, (cell, micro) in rows.items():
        assert got[vid] == (cell, micro, kept[vid]), vid


def test_semantic_keeps_exactly_one_per_duplicate_clique(spark):
    """Within a cell, the drop rule is a strict total order on
    (cos_c_micro, vec_id): among any set of mutually-near vectors the
    minimum survives and every other member is dropped — keep-ONE-
    representative, not keep-none (the failure mode a naive 'drop if
    any near neighbor' rule has)."""
    from sea_streamer_spark.operators.similarity import cos_py
    from sea_streamer_spark.plans.fragments import SEM_THRESHOLD

    rows, kept = _py_semantic()
    emb = _embeddings()
    # build the near-dup graph within cells; check each connected clique
    by_cell: dict[int, list[int]] = {}
    for vid, (cell, _m) in rows.items():
        by_cell.setdefault(cell, []).append(vid)
    n_groups_checked = 0
    for cell, vids in by_cell.items():
        for a in vids:
            near = [
                b
                for b in vids
                if b != a and cos_py(emb[a], emb[b]) >= SEM_THRESHOLD
            ]
            if not near:
                assert kept[a], f"isolated vector {a} must be kept"
                continue
            group = [a, *near]
            ranked = sorted(group, key=lambda v: (rows[v][1], v))
            # the best-ranked member of a's neighborhood is never dropped
            # BY this neighborhood; a itself survives iff it is that member
            if a == ranked[0]:
                assert kept[a], f"best-ranked {a} wrongly dropped"
            else:
                assert not kept[a], f"{a} has a better-ranked near neighbor"
            n_groups_checked += 1
    # the corpus must actually exercise the rule (sf0.001 has cos-near pairs)
    assert n_groups_checked > 0


def test_semantic_recall_eval_invariants(spark):
    r = _run(spark, "dedup_semantic_recall_eval").collect()[0]
    # precision is structural: every sem pair is cosine-verified
    assert r["precision_permille"] == 1000
    assert r["n_common"] == r["n_sem_pairs"]
    assert r["n_sem_pairs"] <= r["n_true_pairs"]
    assert 0 <= r["recall_permille"] <= 1000
    assert r["n_overlap_docs"] <= min(r["n_sem_dropped"], r["n_jaccard_dup_docs"])
    # dropped count must agree with the cluster query's verdict column
    k = _run(spark, "dedup_semantic_cluster")
    assert r["n_sem_dropped"] == k.filter("NOT kept").count()


def test_semantic_cluster_plan_quality(spark):
    """Scale pins: cell assignment is a projection (no shuffle before the
    centroid broadcast join), the centroid join IS a broadcast, the
    near-dup join is cell-keyed (no cartesian product anywhere), and no
    row-at-a-time Python executes."""
    df = _run(spark, "dedup_semantic_cluster")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # 16-row centroid table
    # the dedup self-join keys on cell (cluster-bucketed, never all-pairs)
    assert "cell" in plan


# ---------------------------------------------------------------- wave 2-5


def _docs(sf=SF):
    t = pq.read_table(f"{sf}/documents.parquet", columns=["doc_id", "text", "source"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist(),
                    t.column("source").to_pylist()))


def test_readability_full_python_replay(spark):
    import re

    agg: dict[str, list[int]] = {}
    for _d, text, src in _docs():
        words = [w for w in re.split(r"\s+", text.lower()) if w]
        syl = sum(max(len(re.findall(r"[aeiouy]+", w)), 1) for w in words)
        sent = max(len(re.findall(r"[.!?]+", text)), 1)
        a = agg.setdefault(src, [0, 0, 0, 0])
        a[0] += 1
        a[1] += len(words)
        a[2] += sent
        a[3] += syl
    rows = _run(spark, "text_readability_scores").collect()
    assert len(rows) == len(agg)
    for r in rows:
        n_docs, w, s, y = agg[r["source"]]
        assert (r["n_docs"], r["n_words"], r["n_sentences"], r["n_syllables"]) == (
            n_docs, w, s, y,
        )
        assert r["fk_grade_milli"] == math.floor(
            390.0 * w / s + 11800.0 * y / w - 15590.0
        )
        assert r["fre_milli"] == math.floor(
            206835.0 - 1015.0 * w / s - 84600.0 * y / w
        )
        # no terminators in the synthetic corpus: sentences degenerate to
        # one per document (stated in the module docstring, pinned here)
        assert r["n_sentences"] == r["n_docs"]


def test_t_closeness_full_python_replay(spark):
    t = pq.read_table(
        f"{SF}/customer.parquet",
        columns=["c_nationkey", "c_mktsegment", "c_acctbal"],
    )
    rows = list(zip(t.column("c_nationkey").to_pylist(),
                    t.column("c_mktsegment").to_pylist(),
                    t.column("c_acctbal").to_pylist()))
    from collections import Counter
    from decimal import Decimal

    band = lambda b: math.floor(Decimal(str(b)).quantize(Decimal("0.01")) / 1000)  # noqa: E731
    gq = Counter(band(b) for _n, _s, b in rows)
    n_total, m = len(rows), len(gq)
    cls: dict[tuple, Counter] = {}
    for n, s, b in rows:
        cls.setdefault((n, s), Counter())[band(b)] += 1
    got = {(r["nation"], r["segment"]): r
           for r in _run(spark, "privacy_t_closeness_audit").collect()}
    assert set(got) == set(cls)
    all_bands = sorted(gq)
    for key, ph in cls.items():
        n_c = sum(ph.values())
        cum_p = cum_q = s_abs = 0
        for b in all_bands:
            cum_p += ph.get(b, 0)
            cum_q += gq[b]
            s_abs += abs(cum_p * n_total - cum_q * n_c)
        emd = math.floor(1000.0 * s_abs / ((m - 1) * n_c * n_total))
        r = got[key]
        assert (r["class_size"], r["emd_milli"], r["at_risk"]) == (
            n_c, emd, int(emd > 200),
        )


def test_clustering_coefficient_invariants(spark):
    rows = _run(spark, "graph_clustering_coefficient").collect()
    assert rows, "near-dup graph must be non-empty at sf0.001"
    for r in rows:
        assert r["degree"] >= 1
        if r["degree"] < 2:
            assert r["local_cc_permille"] == -1
            assert r["n_triangles"] == 0
        else:
            assert 0 <= r["local_cc_permille"] <= 1000
            # tri(v) can't exceed deg-choose-2
            assert r["n_triangles"] <= r["degree"] * (r["degree"] - 1) // 2
    # the fixture's duplicate families are cliquish: some node must close
    # a triangle, otherwise the query measures nothing
    assert any(r["n_triangles"] > 0 for r in rows)


def test_ams_f2_full_python_replay(spark):
    t = pq.read_table(f"{SF}/events.parquet", columns=["user_id"])
    from collections import Counter

    from sea_streamer_spark.plans.eval_metrics import _AMS_COEF, _AMS_D, _AMS_P

    freq = Counter(t.column("user_id").to_pylist())
    f2 = sum(f * f for f in freq.values())

    def sign(v, c):
        a3, a2, a1, a0 = c
        v2 = (v * v) % _AMS_P
        h = ((a3 * v2) % _AMS_P * v % _AMS_P + (a2 * v2) % _AMS_P
             + (a1 * v) % _AMS_P + a0) % _AMS_P
        return 1 if h % 2 == 1 else -1

    xs = [sum(f * sign(v, c) for v, f in freq.items()) for c in _AMS_COEF]
    x2 = [x * x for x in xs]
    mean = sum(x2) // _AMS_D
    g = [sum(x2[4 * k : 4 * k + 4]) for k in range(3)]
    mom = sorted(g)[1] // 4
    r = _run(spark, "sketch_ams_f2_estimate").collect()[0]
    assert r["f2_exact"] == f2
    assert r["f2_est_mean"] == mean
    assert r["f2_est_mom"] == mom
    assert r["err_mean_permille"] == abs(mean - f2) * 1000 // f2
    assert r["err_mom_permille"] == abs(mom - f2) * 1000 // f2


# ---------------------------------------------------------------- wave 6-9


def _ql_py(sf=SF):
    """Pure-python replay of the Dirichlet QL scoring chain."""
    import re
    from collections import Counter

    from sea_streamer_spark.plans.search import _QL_MU

    docs = {d: [w for w in re.split(r"\s+", t) if w] for d, t, _s in _docs(sf)}
    q = set(docs[0])
    corpus = {d: t for d, t in docs.items() if d != 0}
    cf = Counter(w for t in corpus.values() for w in t if w in q)
    t_tokens = sum(len(t) for t in corpus.values())
    scores = {}
    for d, t in corpus.items():
        tf = Counter(w for w in t if w in q)
        s = 0
        for term in sorted(q):
            if cf[term] == 0:
                continue
            s += round(
                math.log(
                    (tf[term] + _QL_MU * cf[term] / t_tokens)
                    / (len(t) + _QL_MU)
                )
                * 1_000_000
            )
        scores[d] = s
    return scores, corpus, q, cf


def test_query_likelihood_full_python_replay(spark):
    scores, _corpus, _q, _cf = _ql_py()
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got = [(r["doc_id"], r["ql_micro"])
           for r in _run(spark, "search_query_likelihood_topk").collect()]
    assert got == top


def test_ndcg_full_python_replay(spark):
    import re
    from sea_streamer_spark.plans.search import _NDCG_K, _NDCG_W

    scores, corpus, q, _cf = _ql_py()
    rel = {
        d: len(q.intersection(t)) for d, t in corpus.items()
    }
    rel = {d: r for d, r in rel.items() if r > 0}
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:_NDCG_K]
    dcg = sum(rel.get(d, 0) * _NDCG_W[i] for i, (d, _s) in enumerate(top))
    n_rel = sum(1 for d, _s in top if rel.get(d, 0) > 0)
    ideal = sorted(rel.items(), key=lambda kv: (-kv[1], kv[0]))[:_NDCG_K]
    idcg = sum(r * _NDCG_W[i] for i, (_d, r) in enumerate(ideal))
    r = _run(spark, "search_ndcg_eval").collect()[0]
    assert r["dcg_micro"] == dcg
    assert r["idcg_micro"] == idcg
    assert r["n_rel_topk"] == n_rel
    assert r["ndcg_permille"] == 1000 * dcg // idcg
    assert 0 <= r["ndcg_permille"] <= 1000


def test_benford_full_python_replay(spark):
    from collections import Counter

    from sea_streamer_spark.plans.quality_signals import _BENFORD_P

    t = pq.read_table(f"{SF}/events.parquet", columns=["value"])
    obs = Counter()
    for v in t.column("value").to_pylist():
        n = abs(round(v * 100))
        if n >= 1:
            obs[int(str(int(n))[0])] += 1
    n_total = sum(obs.values())
    rows = _run(spark, "events_benford_audit").collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    for r in rows:
        d = r["digit"]
        p = _BENFORD_P[d - 1]
        assert r["observed"] == obs.get(d, 0)
        assert r["expected_floor"] == n_total * p // 1_000_000
        diff = float(r["observed"] * 1_000_000 - n_total * p)
        assert r["chi_micro"] == round(
            diff * diff / (float(n_total) * p * 1_000_000) * 1_000_000
        )


def test_jl_distortion_full_python_replay(spark):
    from sea_streamer_spark.operators.similarity import dot_py
    from sea_streamer_spark.plans.similarity_eval import _JL_K, _JL_R

    emb = _embeddings()
    from collections import Counter

    hist = Counter()
    eligible = 0
    for a in sorted(emb):
        if a % 2 or (a + 1) not in emb:
            continue
        dv = [float(x) - float(y) for x, y in zip(emb[a], emb[a + 1])]
        d2 = dot_py(dv, dv)
        if d2 <= 0:
            continue
        eligible += 1
        proj = sum(dot_py(dv, r) ** 2 for r in _JL_R)
        ratio = math.floor(1000.0 * (proj / _JL_K) / d2 + 0.5)
        hist[ratio // 100] += 1
    rows = _run(spark, "embedding_jl_distortion_audit").collect()
    assert {r["bucket"]: r["n_pairs"] for r in rows} == dict(hist)
    assert sum(r["n_pairs"] for r in rows) == eligible


# -------------------------------------------------------------- wave 10-12


def test_lexical_richness_full_python_replay(spark):
    import re
    from collections import Counter

    per: dict[str, Counter] = {}
    for _d, text, src in _docs():
        per.setdefault(src, Counter()).update(
            w for w in re.split(r"\s+", text) if w
        )
    rows = _run(spark, "text_lexical_richness").collect()
    assert len(rows) == len(per)
    for r in rows:
        c = per[r["source"]]
        n, v = sum(c.values()), len(c)
        v1 = sum(1 for x in c.values() if x == 1)
        s2 = sum(x * x for x in c.values())
        assert (r["n_tokens"], r["n_types"], r["n_hapax"]) == (n, v, v1)
        assert r["ttr_permille"] == 1000 * v // n
        assert r["hapax_permille"] == 1000 * v1 // v
        assert r["yule_k_milli"] == 10000000 * (s2 - n) // (n * n)


def test_good_turing_full_python_replay(spark):
    import re
    from collections import Counter

    sc: Counter = Counter()
    for _d, text, _s in _docs():
        toks = re.split(r"\s+", text)
        for i in range(len(toks) - 2):
            sc[" ".join(toks[i : i + 3])] += 1
    fof = Counter(sc.values())
    n = sum(sc.values())
    s1 = fof.get(1, 0)
    rows = _run(spark, "quality_good_turing_spectrum").collect()
    assert [r["r"] for r in rows] == list(range(1, 11))
    for r in rows:
        sr, sr1 = fof.get(r["r"], 0), fof.get(r["r"] + 1, 0)
        assert r["s_r"] == sr
        expect = -1 if sr == 0 or sr1 == 0 else 1000 * (r["r"] + 1) * sr1 // sr
        assert r["r_star_milli"] == expect
        assert r["unseen_mass_permille"] == 1000 * s1 // n
    # the shingle grain must actually carry a tail (the word grain is
    # fixture-saturated and would zero the whole spectrum)
    assert rows[0]["s_r"] > 0


def test_weighted_reservoir_full_python_replay(spark):
    from sea_streamer_spark.plans.curation_sampling import (
        _RES_A,
        _RES_B,
        _RES_K,
        _RES_P,
    )

    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "n_chars"])
    keyed = []
    for d, w in zip(t.column("doc_id").to_pylist(), t.column("n_chars").to_pylist()):
        if w <= 0:
            continue
        u = (((_RES_A * d + _RES_B) % _RES_P) + 1.0) / (_RES_P + 1.0)
        keyed.append((d, w, round(1_000_000.0 * math.log(u) / w)))
    top = sorted(keyed, key=lambda x: (-x[2], x[0]))[:_RES_K]
    got = [(r["doc_id"], r["weight"], r["key_micro"])
           for r in _run(spark, "curation_weighted_reservoir").collect()]
    assert got == top
    # length-weighting must actually bias the draw: the sampled docs'
    # mean weight exceeds the corpus mean
    corpus_mean = sum(w for _d, w, _k in keyed) / len(keyed)
    sample_mean = sum(w for _d, w, _k in top) / len(top)
    assert sample_mean > corpus_mean


# -------------------------------------------------------------- wave 13-15


def test_spearman_full_python_replay(spark):
    import re

    from sea_streamer_spark.plans.quality_signals import _SPEAR_SIGNALS

    sig = {}
    for d, text, _s in _docs():
        words = [w for w in re.split(r"\s+", text.lower()) if w]
        syl = sum(max(len(re.findall(r"[aeiouy]+", w)), 1) for w in words)
        sig[d] = {
            "n_chars": len(text),
            "n_tokens": len(words),
            "n_types": len(set(words)),
            "n_syllables": syl,
        }
    n = len(sig)
    ranks = {}
    for s in _SPEAR_SIGNALS:
        order = sorted(sig, key=lambda d: (sig[d][s], d))
        ranks[s] = {d: i + 1 for i, d in enumerate(order)}
    got = {(r["signal_a"], r["signal_b"]): r["rho_milli"]
           for r in _run(spark, "quality_signal_rank_correlation").collect()}
    for i, a in enumerate(_SPEAR_SIGNALS):
        for b in _SPEAR_SIGNALS[i + 1 :]:
            sum_d2 = sum((ranks[a][d] - ranks[b][d]) ** 2 for d in sig)
            nn = n * (n * n - 1)
            num = 1000 * nn - 6000 * sum_d2
            # truncation toward zero, matching both engines
            expect = num // nn if num >= 0 else -((-num) // nn)
            assert got[(a, b)] == expect, (a, b)
    # chars/tokens/syllables all grow with length: strongly rank-aligned
    assert got[("n_chars", "n_tokens")] > 900


def test_transition_entropy_full_python_replay(spark):
    import pyarrow.parquet as _pq
    from collections import Counter, defaultdict

    t = _pq.read_table(
        f"{SF}/events.parquet", columns=["user_id", "ts", "event_id", "event_type"]
    )
    rows = sorted(
        zip(t.column("user_id").to_pylist(), t.column("ts").to_pylist(),
            t.column("event_id").to_pylist(), t.column("event_type").to_pylist()),
        key=lambda r: (r[0], r[1], r[2]),
    )
    cells: Counter = Counter()
    prev_by_user: dict = {}
    for u, _ts, _eid, et in rows:
        if u in prev_by_user:
            cells[(prev_by_user[u], et)] += 1
        prev_by_user[u] = et
    by_prev = defaultdict(dict)
    for (p, nx), n in cells.items():
        by_prev[p][nx] = n
    got = {r["prev_type"]: r
           for r in _run(spark, "events_transition_entropy").collect()}
    assert set(got) == set(by_prev)
    for p, nxs in by_prev.items():
        row_n = sum(nxs.values())
        micro = sum(
            round(-math.log(n / row_n) * n * 1_000_000 / row_n)
            for n in nxs.values()
        )
        r = got[p]
        assert (r["n_transitions"], r["n_next"], r["entropy_micro_nats"]) == (
            row_n, len(nxs), micro,
        )
        # entropy bounded by ln(K)
        assert micro <= math.log(len(nxs)) * 1_000_000 + len(nxs)


def test_cell_label_purity_replay_and_invariants(spark):
    from collections import Counter

    from sea_streamer_spark.operators.similarity import dot_py
    from sea_streamer_spark.plans.fragments import gate_ivf_centroids
    from sea_streamer_spark.plans.fragments import SEM_CELLS

    t = pq.read_table(f"{SF}/embeddings.parquet",
                      columns=["vec_id", "embedding", "label"])
    cents = gate_ivf_centroids(n_cells=SEM_CELLS)
    assert cents is not None
    per: dict[int, Counter] = {}
    for v, e, lab in zip(t.column("vec_id").to_pylist(),
                         t.column("embedding").to_pylist(),
                         t.column("label").to_pylist()):
        cell = -max(((dot_py(e, cv), -c) for c, cv in cents))[1]
        per.setdefault(cell, Counter())[lab] += 1
    got = {r["cell"]: r
           for r in _run(spark, "embedding_cell_label_purity").collect()}
    assert set(got) == set(per)
    for cell, c in per.items():
        n = sum(c.values())
        n_major = max(c.values())
        sum_sq = sum(x * x for x in c.values())
        r = got[cell]
        assert (r["n"], r["n_labels"]) == (n, len(c))
        assert r["majority_permille"] == 1000 * n_major // n
        assert r["gini_permille"] == (1000 * n * n - 1000 * sum_sq) // (n * n)
        assert 0 <= r["gini_permille"] <= 1000
        assert r["majority_permille"] >= 1000 // len(c)


# -------------------------------------------------------------- wave 16-17


def test_mann_whitney_full_python_replay(spark):
    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "n_chars", "source"])
    rows = sorted(
        zip(t.column("n_chars").to_pylist(), t.column("doc_id").to_pylist(),
            t.column("source").to_pylist())
    )
    n = len(rows)
    r1: dict[str, int] = {}
    n1: dict[str, int] = {}
    for rk, (_c, _d, src) in enumerate(rows, start=1):
        r1[src] = r1.get(src, 0) + rk
        n1[src] = n1.get(src, 0) + 1
    got = {r["source"]: r
           for r in _run(spark, "profile_mann_whitney_drift").collect()}
    assert set(got) == set(n1)
    for src in n1:
        u = r1[src] - n1[src] * (n1[src] + 1) // 2
        n2 = n - n1[src]
        z = round((u - n1[src] * n2 / 2)
                  / math.sqrt(n1[src] * n2 * (n + 1) / 12) * 1000)
        r = got[src]
        assert (r["n1"], r["u_stat"], r["z_milli"]) == (n1[src], u, z), src
        # U is bounded by n1*n2
        assert 0 <= u <= n1[src] * n2


def test_nb_calibration_consistency(spark):
    rows = _run(spark, "quality_nb_calibration_curve").collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    # margins must be non-increasing across deciles (decile 1 = best)
    for a, b in zip(rows, rows[1:]):
        assert a["margin_min"] >= b["margin_max"]
    # totals must agree with the fidelity table's held-out population
    fid = _run(spark, "quality_nb_distill_fidelity").collect()[0]
    assert sum(r["n_docs"] for r in rows) == fid["n_eval"]
    assert sum(r["n_pass"] for r in rows) == fid["tp"] + fid["fn"]
    for r in rows:
        assert r["pass_rate_permille"] == 1000 * r["n_pass"] // r["n_docs"]


# ---------------------------------------------------------------- wave 18


def test_pagerank_convergence_pins(spark):
    rows = _run(spark, "graph_pagerank_convergence").collect()
    assert [r["iteration"] for r in rows] == list(range(1, 7))
    resid = [r["l1_residual_micro"] for r in rows]
    moved = [r["n_changed"] for r in rows]
    # round 1 includes the isolated-node mass: by far the largest
    assert resid[0] == max(resid) and resid[0] > 0
    # decay: the tail must be far below the head (geometric-ish)
    assert resid[-1] * 10 <= resid[0]
    assert moved[-1] <= moved[0]
    # the curve must agree with the shipped operator: rerun the final
    # scores via graph_neardup_pagerank's own relation and check that a
    # zero-residual round implies identical consecutive scores
    for r, m in zip(resid, moved):
        assert (r == 0) == (m == 0)


# ---------------------------------------------------------------- wave 19


def test_lsh_band_curve_pins(spark):
    from sea_streamer_spark.operators.dedup import LSH_BANDS, LSH_ROWS
    from sea_streamer_spark.plans.dedup_eval import _LSH_THEORY

    rows = _run(spark, "dedup_lsh_band_curve").collect()
    assert [r["j_bucket"] for r in rows] == list(range(3, 10))
    for r in rows:
        # theory literals reproduce 1-(1-J^r)^b at the bucket midpoint
        j = (r["j_bucket"] + 0.5) / 10
        assert r["p_theory_micro"] == round(
            1_000_000 * (1.0 - (1.0 - j**LSH_ROWS) ** LSH_BANDS)
        )
        assert r["p_theory_micro"] == _LSH_THEORY[r["j_bucket"]]
        if r["n_true_pairs"] == 0:
            assert (r["recall_permille"], r["n_candidates"]) == (-1, 0)
        else:
            assert 0 <= r["recall_permille"] <= 1000
            assert r["n_candidates"] <= r["n_true_pairs"]
    # the corpus must populate at least one bucket, and on the top
    # bucket (J >= 0.9, where theory says ~certainty) the production
    # banding must actually deliver
    top = rows[-1]
    assert top["n_true_pairs"] > 0
    assert top["recall_permille"] >= 990


# ---------------------------------------------------------------- wave 20


def test_ks_drift_full_python_replay(spark):
    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "n_chars", "source"])
    rows = sorted(
        zip(t.column("n_chars").to_pylist(), t.column("doc_id").to_pylist(),
            t.column("source").to_pylist())
    )
    n = len(rows)
    pooled: dict[str, list[int]] = {}
    for p, (_c, _d, src) in enumerate(rows, start=1):
        pooled.setdefault(src, []).append(p)
    got = {r["source"]: r for r in _run(spark, "profile_ks_source_drift").collect()}
    assert set(got) == set(pooled)
    for src, ps in pooled.items():
        n1 = len(ps)
        n2 = n - n1
        d_num = max(
            max(k * n2 - (p - k) * n1, (p - k) * n1 - (k - 1) * n2)
            for k, p in enumerate(ps, start=1)
        )
        # cross-check the rank trick against the brute-force ECDF sup
        own = set(ps)
        cum1 = cum2 = 0
        brute = 0
        for p in range(1, n + 1):
            if p in own:
                cum1 += 1
            else:
                cum2 += 1
            brute = max(brute, abs(cum1 * n2 - cum2 * n1))
        assert d_num == brute, src
        r = got[src]
        assert r["n1"] == n1
        assert r["d_milli"] == 1000 * d_num // (n1 * n2)
        assert r["z_milli"] == round(
            math.sqrt(n1 * n2 / n) * d_num / (n1 * n2) * 1000
        )
