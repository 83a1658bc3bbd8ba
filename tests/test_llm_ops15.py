"""Semantic pins for the round-11 llm_ops15 waves; the auto-parametrized
oracle test covers hash parity."""

from __future__ import annotations

import math

from sea_streamer_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _run(spark, name, sf=SF):
    return QUERIES[name].fn(spark, sf)


# ---------------------------------------------------------------- wave 1


def _copurchase_graph(spark, sf):
    """Full-python rebuild of the AA co-purchase graph (support >= 2)."""
    from sea_streamer_spark.sources.tables import load_tables

    li = load_tables(spark, sf, "lineitem").lineitem
    rows = li.select("l_orderkey", "l_partkey").collect()
    by_order: dict = {}
    for r in rows:
        by_order.setdefault(r["l_orderkey"], []).append(r["l_partkey"])
    from collections import Counter

    # the plan counts lineitem ROW pairs per order (a.partkey <
    # b.partkey over the row self-join), not distinct parts — replicate
    # exactly.
    co = Counter()
    for parts in by_order.values():
        for i in range(len(parts)):
            for j in range(len(parts)):
                if parts[i] < parts[j]:
                    co[(parts[i], parts[j])] += 1
    edges = {p for p, n in co.items() if n >= 2}
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return edges, adj


def test_aa_hubcapped_full_python_replay(spark):
    """Every column of the one-row hub-cap measurement reproduced in
    plain python from the same graph: wedge volumes from the degree
    sequence, AA mass from per-center micro-rounded 1/ln(deg) terms,
    and the two top-20 rankings with the registered tie-break."""
    edges, adj = _copurchase_graph(spark, SF)
    deg = {u: len(vs) for u, vs in adj.items()}
    D = 8
    n_wedges_total = sum(d * (d - 1) // 2 for d in deg.values())
    n_wedges_kept = sum(d * (d - 1) // 2 for d in deg.values() if d <= D)
    # candidate pairs: unlinked endpoints of wedges
    aa_all: dict = {}
    aa_cap: dict = {}
    for w, vs in adj.items():
        term = round(1_000_000 / math.log(deg[w]))
        vs_s = sorted(vs)
        for i in range(len(vs_s)):
            for j in range(i + 1, len(vs_s)):
                u, v = vs_s[i], vs_s[j]
                if (u, v) in edges:
                    continue
                aa_all[(u, v)] = aa_all.get((u, v), 0) + term
                if deg[w] <= D:
                    aa_cap[(u, v)] = aa_cap.get((u, v), 0) + term
    m_all = sum(aa_all.values())
    m_cap = sum(aa_cap.get(p, 0) for p in aa_all)
    top_u = sorted(aa_all, key=lambda p: (-aa_all[p], p))[:20]
    top_c = sorted(
        (p for p in aa_all if aa_cap.get(p, 0) > 0),
        key=lambda p: (-aa_cap[p], p),
    )[:20]
    got = _run(spark, "graph_adamic_adar_hubcapped").collect()[0]
    assert got["d_cap"] == D
    assert got["n_wedges_total"] == n_wedges_total
    assert got["n_wedges_kept"] == n_wedges_kept
    assert got["wedge_share_permille"] == 1000 * n_wedges_kept // n_wedges_total
    assert got["aa_mass_kept_permille"] == 1000 * m_cap // m_all
    assert got["n_top20_overlap"] == len(set(top_u) & set(top_c))


def test_aa_hubcapped_single_sources_registered_graph(spark):
    """The capped row's uncapped AA scores must be IDENTICAL to the
    registered row's (same graph, same term): the registered top-20 is
    reproduced by ranking the hub-cap query's own candidate relation."""
    from pyspark.sql import functions as F

    from sea_streamer_spark.plans.llm_ops14 import _aa_graph

    reg = _run(spark, "graph_adamic_adar_linkpred").select(
        "part_a", "part_b", "aa_micro"
    )
    pairs, e, deg, wedges = _aa_graph(spark, SF)
    unlinked = wedges.join(
        pairs.select(F.col("pa").alias("u"), F.col("pb").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    cand = (
        unlinked.join(deg.withColumnRenamed("u", "w"), "w")
        .groupBy("u", "v")
        .agg(
            F.sum(
                F.round(
                    F.lit(1_000_000) / F.log(F.col("d").cast("double"))
                ).cast("long")
            )
            .cast("long")
            .alias("aa_micro")
        )
        .orderBy(F.desc("aa_micro"), "u", "v")
        .limit(20)
    )
    assert sorted(map(tuple, reg.collect())) == sorted(
        map(tuple, cand.collect())
    )


# ---------------------------------------------------------------- wave 2


def test_planted_sweep_full_python_replay(spark):
    """Third-engine replay of the planted-near-dup sweep: corpus
    derivation (×1.25 on dim j−1, replica id scheme), truth via the
    cos_py left fold, cell assignment via the gate centroid literals,
    planted-pair flagging via the base-key rule — every column in pure
    python."""
    import pyarrow.parquet as pq

    from sea_streamer_spark.operators.similarity import cos_py, dot_py
    from sea_streamer_spark.plans.llm_ops import gate_ivf_centroids

    t = pq.read_table(f"{SF}/embeddings.parquet")
    base_ids = t.column("vec_id").to_pylist()
    base_vecs = [list(map(float, v)) for v in t.column("embedding").to_pylist()]
    ids, vecs, key = [], [], {}
    for i, b in enumerate(base_ids):
        ids.append(b)
        vecs.append(base_vecs[i])
        key[b] = b
        if b % 10 == 0:
            for j in (1, 2, 3):
                v = list(base_vecs[i])
                v[j - 1] = v[j - 1] * 1.25
                rid = 1_000_000 + b * 100 + j
                ids.append(rid)
                vecs.append(v)
                key[rid] = b
    n = len(ids)
    nrm = [math.sqrt(dot_py(v, v)) for v in vecs]
    order = sorted(range(n), key=lambda i: ids[i])
    truth, planted = set(), set()
    for ii in range(n):
        i = order[ii]
        for jj in range(ii + 1, n):
            j = order[jj]
            if dot_py(vecs[i], vecs[j]) / (nrm[i] * nrm[j]) >= 0.45:
                p = (ids[i], ids[j])
                truth.add(p)
                if key[p[0]] == key[p[1]]:
                    planted.add(p)
    got = {
        r["n_cells"]: r
        for r in _run(spark, "dedup_semantic_recall_planted").collect()
    }
    assert set(got) == {16, 32, 128}
    for k, r in got.items():
        cents = gate_ivf_centroids(n_cells=k)
        cell = {}
        for i in range(n):
            best = max((dot_py(vecs[i], cv), -c) for c, cv in cents)
            cell[ids[i]] = -best[1]
        pops: dict = {}
        for c in cell.values():
            pops[c] = pops.get(c, 0) + 1
        n_cand = sum(p * (p - 1) // 2 for p in pops.values())
        n_coloc = sum(1 for a, b in truth if cell[a] == cell[b])
        n_pl_coloc = sum(1 for a, b in planted if cell[a] == cell[b])
        assert r["n_vectors"] == n
        assert r["n_true_pairs"] == len(truth)
        assert r["n_planted_pairs"] == len(planted)
        assert r["n_candidate_pairs"] == n_cand, k
        assert r["n_true_colocated"] == n_coloc, k
        assert r["n_planted_colocated"] == n_pl_coloc, k
        assert r["recall_permille"] == (1000 * n_coloc) // len(truth)
        assert r["planted_recall_permille"] == (1000 * n_pl_coloc) // len(
            planted
        )
        c = (n + 31) // 32
        assert r["recommended"] == (k >= c and k // 2 < c)
    assert sum(1 for r in got.values() if r["recommended"]) == 1


def test_planted_corpus_clusters_are_true_near_dups(spark):
    """The fixture's defining property: EVERY within-cluster pair is in
    the exact cosine truth (within-cluster cosine ≥ 0.45 by a wide
    margin), and the headline claim holds — planted recall at the
    recommended semantic_cells_for rung is ≥ 900‰ while the candidate
    share is below the 16-cell fixed pin's."""
    rows = {
        r["n_cells"]: r
        for r in _run(spark, "dedup_semantic_recall_planted").collect()
    }
    rec = [r for r in rows.values() if r["recommended"]]
    assert len(rec) == 1
    r = rec[0]
    # every planted pair survives into the exact truth
    n_bases = r["n_planted_pairs"] // 6  # C(4,2) = 6 pairs per cluster
    assert r["n_planted_pairs"] == 6 * n_bases
    assert r["planted_recall_permille"] >= 900
    assert (
        r["candidate_share_permille"]
        < rows[16]["candidate_share_permille"]
        or r["n_cells"] == 16
    )


# ---------------------------------------------------------------- wave 3


def test_e2e_pipeline_composes_registered_stages(spark):
    """The funnel must agree stage-for-stage with the REGISTERED
    machinery it claims to compose: exact-dedup replayed in python over
    the python-replayed redaction chain, near-dup keeps derived from the
    registered dedup_clusters relation, semantic keeps from the
    registered scaled-cluster kept flags, quality keeps from the
    registered Gopher flags, and the Hamilton tail replayed in python
    over the survivor counts."""
    import hashlib
    import re as _re

    from sea_streamer_spark.plans.llm_ops14 import _PII_PATTERNS
    from sea_streamer_spark.sources.tables import load_tables

    docs = {
        r["doc_id"]: (r["source"], r["text"])
        for r in load_tables(spark, SF, "documents").documents.collect()
    }

    # python replay of the deterministic injector + redaction chain
    def inject(d, text):
        m = d % 7
        if m == 0:
            return text + f" contact user{d}@example.org"
        if m == 1:
            return text + f" call 555-{d * 7 % 1000:03d}-{d * 13 % 10000:04d}"
        if m == 2:
            return text + f" from 10.{d % 256}.{d * 3 % 256}.{d * 7 % 256}"
        if m == 3:
            return (
                text
                + f" id {d % 1000:03d}-{d * 3 % 100:02d}-{d * 7 % 10000:04d}"
            )
        if m == 4:
            return (
                text + f" card {d % 10000:04d}-{d * 3 % 10000:04d}"
                f"-{d * 7 % 10000:04d}-{d * 11 % 10000:04d}"
            )
        return text

    def redact(t):
        for _, pat, repl in _PII_PATTERNS:
            t = _re.sub(pat, repl, t)
        return t

    red = {d: redact(inject(d, txt)) for d, (_, txt) in docs.items()}
    had_pii = {d: red[d] != inject(d, docs[d][1]) for d in docs}
    by_hash: dict = {}
    for d in sorted(docs):
        by_hash.setdefault(
            hashlib.md5(red[d].encode()).hexdigest(), []
        ).append(d)
    keep2 = {d: d == min(g) for g in by_hash.values() for d in g}

    cl = {
        r["doc_id"]: r["cluster_id"]
        for r in _run(spark, "dedup_clusters").collect()
    }
    by_cluster: dict = {}
    for d, c in cl.items():
        if keep2[d]:
            by_cluster.setdefault(c, []).append(d)
    keep3 = {d: keep2[d] and d == min(by_cluster[cl[d]]) for d in docs}

    kept_sem = {
        r["vec_id"]: r["kept"]
        for r in _run(spark, "dedup_semantic_cluster_scaled").collect()
    }
    keep4 = {d: keep3[d] and kept_sem.get(d, True) for d in docs}

    passes = {
        r["doc_id"]: r["passes"]
        for r in _run(spark, "quality_gopher_flags").collect()
    }
    keep5 = {d: keep4[d] and passes[d] for d in docs}

    per: dict = {}
    for d, (src, _) in docs.items():
        row = per.setdefault(src, [0, 0, 0, 0, 0, 0])
        row[0] += 1
        row[1] += had_pii[d]
        row[2] += keep2[d]
        row[3] += keep3[d]
        row[4] += keep4[d]
        row[5] += keep5[d]

    # Hamilton over survivor counts, python replay
    from sea_streamer_spark.plans.llm_ops14 import _APPORTION_BUDGET as budget

    n_total = sum(v[5] for v in per.values())
    q = {
        s: (budget * v[5] // n_total, budget * v[5] % n_total)
        for s, v in per.items()
    }
    seats = budget - sum(f for f, _ in q.values())
    order = sorted(q, key=lambda s: (-q[s][1], s))
    alloc = {
        s: q[s][0] + (1 if order.index(s) < seats else 0) for s in q
    }

    got = {r["source"]: r for r in _run(spark, "curation_e2e_pipeline").collect()}
    assert set(got) == set(per)
    for s, v in per.items():
        r = got[s]
        assert r["n_docs"] == v[0], s
        assert r["n_pii_docs"] == v[1], s
        assert r["n_after_exact"] == v[2], s
        assert r["n_after_neardup"] == v[3], s
        assert r["n_after_semantic"] == v[4], s
        assert r["n_after_quality"] == v[5], s
        assert r["n_sampled"] == min(alloc[s], v[5]), s
    assert sum(r["n_sampled"] for r in got.values()) == budget


def test_e2e_pipeline_funnel_is_monotone(spark):
    """Stage survivor counts can only shrink, and every source's sample
    fits its survivors."""
    for r in _run(spark, "curation_e2e_pipeline").collect():
        assert (
            r["n_docs"]
            >= r["n_after_exact"]
            >= r["n_after_neardup"]
            >= r["n_after_semantic"]
            >= r["n_after_quality"]
            >= r["n_sampled"]
        ), r


# ------------------------------------------------------------ waves 4-7


def test_mcc_full_python_replay(spark):
    """MCC/balanced-accuracy replayed from the kappa wave's own cells —
    the 2x2 table is pinned IDENTICAL across the whole gate-agreement
    family (fidelity, kappa, McNemar, MCC)."""
    kappa = _run(spark, "quality_cohens_kappa_gates").collect()[0]
    got = _run(spark, "quality_mcc_gates").collect()[0]
    a, d = kappa["n_both_pass"], kappa["n_both_fail"]
    n, dis = kappa["n_docs"], kappa["n_disagree"]
    assert got["n_docs"] == n
    assert got["n_tp"] == a and got["n_tn"] == d
    assert got["n_fn"] + got["n_fp"] == dis
    b, c = got["n_fn"], got["n_fp"]
    num = 1000.0 * (a * d - b * c)
    den = math.sqrt(
        float(a + b) * float(a + c) * float(b + d) * float(c + d)
    )
    assert got["mcc_milli"] == math.floor(num / den + 0.5)
    assert got["balanced_acc_milli"] == (
        1000 * a // (a + b) + 1000 * d // (c + d)
    ) // 2


def test_lexical_concentration_full_python_replay(spark):
    """Yule's K and Simpson's repeat-rate recomputed from a python token
    spectrum per source — exact integers."""
    from collections import Counter

    from sea_streamer_spark.sources.tables import load_tables

    docs = load_tables(spark, SF, "documents").documents.collect()
    spec: dict = {}
    for r in docs:
        c = spec.setdefault(r["source"], Counter())
        for w in r["text"].split():
            c[w] += 1
    got = {
        r["source"]: r
        for r in _run(spark, "text_lexical_concentration").collect()
    }
    assert set(got) == set(spec)
    for s, c in spec.items():
        n = sum(c.values())
        s2 = sum(v * v for v in c.values())
        rep = sum(v * (v - 1) for v in c.values())
        r = got[s]
        assert r["n_tokens"] == n
        assert r["n_types"] == len(c)
        assert r["yule_k_milli"] == 10_000_000 * (s2 - n) // (n * n)
        assert r["simpson_micro"] == 1_000_000 * rep // (n * (n - 1))


def test_dispersion_index_full_python_replay(spark):
    """chi2/VMR recomputed from python daily counts; truncation order
    (divide by S, then by n−1) replicated exactly."""
    from collections import Counter

    from sea_streamer_spark.sources.tables import load_tables

    ev = load_tables(spark, SF, "events").events.select(
        "event_type", "ts"
    ).collect()
    daily: dict = {}
    for r in ev:
        daily.setdefault(r["event_type"], Counter())[r["ts"].date()] += 1
    got = {
        r["event_type"]: r
        for r in _run(spark, "events_dispersion_index").collect()
    }
    for et, c in daily.items():
        n, s = len(c), sum(c.values())
        s2 = sum(v * v for v in c.values())
        chi2 = 1000 * (n * s2 - s * s) // s
        r = got[et]
        assert r["n_days"] == n and r["n_events"] == s
        assert r["mean_daily_milli"] == 1000 * s // n
        assert r["chi2_milli"] == chi2
        assert r["vmr_milli"] == chi2 // (n - 1)


def test_spearman_full_python_replay(spark):
    """rho recomputed from the two registered rankings; with the nation
    tie-break ranks are distinct, so the 6Σd² closed form is exact."""
    g = _run(spark, "agg_gini_by_nation").collect()
    h = _run(spark, "agg_hhi_by_nation").collect()
    rg = {
        r["nation"]: i + 1
        for i, r in enumerate(
            sorted(g, key=lambda r: (-r["gini_micro"], r["nation"]))
        )
    }
    rh = {
        r["nation"]: i + 1
        for i, r in enumerate(
            sorted(h, key=lambda r: (-r["hhi_micro"], r["nation"]))
        )
    }
    n = len(rg)
    sd2 = sum((rg[k] - rh[k]) ** 2 for k in rg)
    got = _run(spark, "agg_concentration_rank_agreement").collect()[0]
    assert got["n_nations"] == n
    assert got["sum_d2"] == sd2
    den = n * (n * n - 1)
    expect = (1000 * (den - 6 * sd2)) // den
    # python // floors; both engines truncate toward zero — reconcile
    num = 1000 * (den - 6 * sd2)
    expect = abs(num) // den * (1 if num >= 0 else -1)
    assert got["spearman_rho_milli"] == expect


# ---------------------------------------------------------------- wave 8


def test_logrank_full_python_replay(spark):
    """O/E/V and z replayed in python: cohort split by lower-median
    per-user count, minute-bucketed gaps, reverse-cumulative risk sets,
    per-time micro-truncated hypergeometric terms in the same order."""
    from collections import Counter

    from sea_streamer_spark.sources.tables import load_tables

    ev = load_tables(spark, SF, "events").events.select(
        "user_id", "ts", "event_id"
    ).collect()
    per_user = Counter(r["user_id"] for r in ev)
    ordered = sorted(per_user.items(), key=lambda kv: (kv[1], kv[0]))
    m = ordered[(len(ordered) + 1) // 2 - 1][1]
    heavy = {u for u, c in per_user.items() if c > m}
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    gaps = []
    for u, rows in by_user.items():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        for a, b in zip(rows, rows[1:]):
            us = int(
                (b["ts"] - a["ts"]).total_seconds() * 1_000_000
            )
            gaps.append((1 if u in heavy else 0, us // 60_000_000))
    times: dict = {}
    for g, t in gaps:
        dj, d1j = times.get(t, (0, 0))
        times[t] = (dj + 1, d1j + g)
    o1 = sum(d1 for _, d1 in times.values())
    e1 = v = 0
    nj = n1j = 0
    for t in sorted(times, reverse=True):
        dj, d1j = times[t]
        nj += dj
        n1j += d1j
        e1 += 1_000_000 * dj * n1j // nj
        if nj > 1:
            v += (
                1_000_000 * dj * n1j * (nj - n1j) * (nj - dj)
                // (nj * nj * (nj - 1))
            )
    got = _run(spark, "events_logrank_cohorts").collect()[0]
    assert got["n_users_heavy"] == len(heavy)
    assert got["n_users_light"] == len(per_user) - len(heavy)
    assert got["n_gaps_heavy"] == o1
    assert got["n_gaps_light"] == len(gaps) - o1
    assert got["e1_micro"] == e1
    assert got["v_micro"] == v
    z = math.floor((1_000_000.0 * o1 - e1) / math.sqrt(v) + 0.5)
    assert got["z_milli"] == z


# ---------------------------------------------------------------- wave 9


def test_mmd_full_python_replay(spark):
    """MMD²/max-gap replayed from python micro-rounded component sums;
    truncated per-group means replicated exactly."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    vecs = [list(map(float, v)) for v in t.column("embedding").to_pylist()]
    d = len(vecs[0])
    sums = {0: [0] * d, 1: [0] * d}
    ns = {0: 0, 1: 0}
    for vid, v in zip(ids, vecs):
        g = vid % 2
        ns[g] += 1
        for i, x in enumerate(v):
            sums[g][i] += math.floor(x * 1_000_000 + 0.5)
    def tdiv(a, b):
        return abs(a) // b * (1 if a >= 0 else -1)
    mu = {g: [tdiv(s, ns[g]) for s in sums[g]] for g in (0, 1)}
    gaps = [mu[0][i] - mu[1][i] for i in range(d)]
    mmd2 = sum(g * g for g in gaps) // 1_000_000
    mg = max(abs(g) for g in gaps)
    argdim = min(i + 1 for i, g in enumerate(gaps) if abs(g) == mg)
    got = _run(spark, "embedding_mmd_split_drift").collect()[0]
    assert got["n_even"] == ns[0] and got["n_odd"] == ns[1]
    assert got["n_dims"] == d
    assert got["mmd2_micro"] == mmd2
    assert got["max_dim_gap_micro"] == mg
    assert got["max_gap_dim"] == argdim


# ----------------------------------------------------------- waves 10-11


def test_basket_rules_full_python_replay(spark):
    """Rule measures replayed from python basket sets (distinct parts
    per order, pair support >= 2, directional), including the certain
    flag and the conviction zero-convention."""
    from collections import Counter

    from sea_streamer_spark.sources.tables import load_tables

    li = load_tables(spark, SF, "lineitem").lineitem.select(
        "l_orderkey", "l_partkey"
    ).collect()
    baskets: dict = {}
    for r in li:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    n = len(baskets)
    item = Counter()
    pair = Counter()
    for ps in baskets.values():
        for p in ps:
            item[p] += 1
        for a in ps:
            for b in ps:
                if a != b:
                    pair[(a, b)] += 1
    rules = []
    for (a, b), cab in pair.items():
        if cab < 2:
            continue
        ca, cb = item[a], item[b]
        lift = 1000 * n * cab // (ca * cb)
        certain = cab == ca
        conv = (
            0
            if certain
            else 1000 * (n - cb) * ca // (n * (ca - cab))
        )
        lev_num = n * cab - ca * cb
        lev = abs(1_000_000 * lev_num) // (n * n) * (
            1 if lev_num >= 0 else -1
        )
        rules.append(
            (
                a,
                b,
                cab,
                1_000_000 * cab // n,
                1_000_000 * cab // ca,
                lift,
                lev,
                certain,
                conv,
            )
        )
    rules.sort(key=lambda r: (-r[5], r[0], r[1]))
    got = [tuple(r) for r in _run(spark, "basket_part_rules").collect()]
    assert got == rules[:20]


def test_retention_triangle_full_python_replay(spark):
    """Cohort retention replayed from python firsts/active sets; age-0
    retention is 1000 permille by construction (every cohort member is
    active in their first year)."""
    from sea_streamer_spark.sources.tables import load_tables

    o = load_tables(spark, SF, "orders").orders.select(
        "o_custkey", "o_orderdate"
    ).collect()
    firsts: dict = {}
    for r in o:
        y = r["o_orderdate"].year
        firsts[r["o_custkey"]] = min(firsts.get(r["o_custkey"], y), y)
    sized: dict = {}
    for c, y in firsts.items():
        sized[y] = sized.get(y, 0) + 1
    active = set()
    for r in o:
        c = r["o_custkey"]
        active.add((firsts[c], c, r["o_orderdate"].year - firsts[c]))
    tri: dict = {}
    for y, _, age in active:
        tri[(y, age)] = tri.get((y, age), 0) + 1
    got = _run(spark, "orders_retention_triangle").collect()
    assert len(got) == len(tri)
    for r in got:
        k = (r["cohort_year"], r["age"])
        assert r["n_active"] == tri[k]
        assert r["n_customers"] == sized[k[0]]
        assert r["retention_permille"] == 1000 * tri[k] // sized[k[0]]
        if r["age"] == 0:
            assert r["retention_permille"] == 1000


# ----------------------------------------------------------- waves 12-13


def test_burstiness_full_python_replay(spark):
    """B replayed from python per-user gap moments with the identical
    scaled closed form (no division before the final float)."""
    from sea_streamer_spark.sources.tables import load_tables

    ev = load_tables(spark, SF, "events").events.select(
        "event_type", "user_id", "ts", "event_id"
    ).collect()
    by_key: dict = {}
    for r in ev:
        by_key.setdefault((r["event_type"], r["user_id"]), []).append(r)
    moments: dict = {}
    for (et, _), rows in by_key.items():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        for a, b in zip(rows, rows[1:]):
            g = int((b["ts"] - a["ts"]).total_seconds() * 1_000_000) // 1_000_000
            n, s, s2 = moments.get(et, (0, 0, 0))
            moments[et] = (n + 1, s + g, s2 + g * g)
    got = {r["event_type"]: r for r in _run(spark, "events_burstiness_index").collect()}
    for et, (n, s, s2) in moments.items():
        r = got[et]
        assert r["n_gaps"] == n
        assert r["mean_gap_s"] == s // n
        sig = math.sqrt(n * s2 - s * s)
        assert r["burstiness_milli"] == math.floor(
            1000.0 * (sig - s) / (sig + s) + 0.5
        )


def test_order_sensitivity_consistent_with_e2e(spark):
    """Order A (exact-then-neardup) must equal the e2e funnel's own
    n_after_neardup total — the single-sourcing promise — and the
    Jaccard column must follow from the three counts."""
    e2e = _run(spark, "curation_e2e_pipeline").collect()
    n_a_expected = sum(r["n_after_neardup"] for r in e2e)
    got = _run(spark, "curation_dedup_order_sensitivity").collect()[0]
    assert got["n_exact_first"] == n_a_expected
    union = (
        got["n_exact_first"]
        + got["n_neardup_first"]
        - got["n_common"]
    )
    assert got["survivor_jaccard_permille"] == 1000 * got["n_common"] // union
    assert got["n_common"] <= min(
        got["n_exact_first"], got["n_neardup_first"]
    )


# ----------------------------------------------------------- waves 14-15


def test_precision_at_k_full_python_replay(spark):
    """P@k/R@k replayed from the NB margin ranking collected once."""
    from sea_streamer_spark.plans.llm_ops11 import _nb_scored

    rows = _nb_scored(spark, SF).collect()
    ranked = sorted(
        rows,
        key=lambda r: (-(r["score_pass"] - r["score_fail"]), r["doc_id"]),
    )
    n_rel = sum(1 for r in rows if r["truth"])
    got = {r["k"]: r for r in _run(spark, "quality_precision_at_k").collect()}
    assert set(got) == {10, 25, 50, 100}
    for k, r in got.items():
        rel_k = sum(1 for x in ranked[:k] if x["truth"])
        assert r["n_rel_at_k"] == rel_k, k
        assert r["precision_permille"] == 1000 * rel_k // k
        assert r["recall_permille"] == 1000 * rel_k // n_rel
        assert r["base_rate_permille"] == 1000 * n_rel // len(rows)
    # the ranking must beat the base rate at the top of the curve
    assert got[10]["precision_permille"] >= got[10]["base_rate_permille"]


def test_weekend_odds_full_python_replay(spark):
    """Cells, exact OR and Woolf z replayed from raw events."""
    from sea_streamer_spark.sources.tables import load_tables

    ev = load_tables(spark, SF, "events").events.select(
        "ts", "event_type"
    ).collect()
    a = b = c = d = 0
    for r in ev:
        wk = r["ts"].weekday() >= 5  # python: Mon=0..Sun=6
        err = r["event_type"] == "error"
        if wk and err:
            a += 1
        elif wk:
            b += 1
        elif err:
            c += 1
        else:
            d += 1
    got = _run(spark, "events_weekend_error_odds").collect()[0]
    assert (got["n_weekend_err"], got["n_weekend_other"]) == (a, b)
    assert (got["n_weekday_err"], got["n_weekday_other"]) == (c, d)
    assert got["odds_ratio_milli"] == 1000 * a * d // (b * c)
    z = math.floor(
        1000.0 * math.log((a * d) / (b * c))
        / math.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
        + 0.5
    )
    assert got["woolf_z_milli"] == z


# --------------------------------------------------------------- wave 16


def test_priority_chi2_full_python_replay(spark):
    """chi2/V replayed from a python contingency table with identical
    per-cell truncation."""
    from collections import Counter

    from sea_streamer_spark.sources.tables import load_tables

    o = load_tables(spark, SF, "orders").orders.select(
        "o_orderdate", "o_orderpriority"
    ).collect()
    cells = Counter((r["o_orderdate"].year, r["o_orderpriority"]) for r in o)
    ry = Counter()
    cp = Counter()
    for (y, p), c in cells.items():
        ry[y] += c
        cp[p] += c
    n = sum(cells.values())
    s_micro = 0
    for (y, p), c in cells.items():
        diff = n * c - ry[y] * cp[p]
        s_micro += 1_000_000 * diff * diff // (n * ry[y] * cp[p])
    got = _run(spark, "orders_priority_mix_chi2").collect()[0]
    assert got["n_years"] == len(ry)
    assert got["n_priorities"] == len(cp)
    assert got["n_orders"] == n
    assert got["dof"] == (len(ry) - 1) * (len(cp) - 1)
    assert got["chi2_milli"] == s_micro // 1000
    v = math.floor(
        1000
        * math.sqrt(
            s_micro / 1_000_000.0 / (n * min(len(ry) - 1, len(cp) - 1))
        )
        + 0.5
    )
    assert got["cramers_v_milli"] == v


# --------------------------------------------------------------- wave 17


def test_markov_stationary_full_python_replay(spark):
    """16 integer power iterations replayed in python from the
    registered transition matrix with identical per-term truncation;
    stationarity sanity: the fixed point's total mass stays within
    truncation loss of 1e6 and deltas are small on this mixing chain."""
    tm = _run(spark, "events_transition_matrix").collect()
    rowt: dict = {}
    for r in tm:
        rowt[r["prev_type"]] = rowt.get(r["prev_type"], 0) + r["n"]
    p = {
        (r["prev_type"], r["next_type"]): 1_000_000 * r["n"] // rowt[r["prev_type"]]
        for r in tm
    }
    states = sorted(rowt)
    k = len(states)
    pi = {s: 1_000_000 // k for s in states}
    for _ in range(16):
        nxt = {s: 0 for s in states}
        for (a, b), pm in p.items():
            nxt[b] += pi[a] * pm // 1_000_000
        pi = nxt
    from sea_streamer_spark.sources.tables import load_tables

    ev = load_tables(spark, SF, "events").events.select(
        "event_type"
    ).collect()
    n = len(ev)
    from collections import Counter

    emp = Counter(r["event_type"] for r in ev)
    got = {r["state"]: r for r in _run(spark, "events_markov_stationary").collect()}
    assert set(got) == set(states)
    for s in states:
        assert got[s]["stationary_micro"] == pi[s], s
        e = 1_000_000 * emp[s] // n
        assert got[s]["empirical_micro"] == e
        assert got[s]["delta_micro"] == pi[s] - e
    mass = sum(pi.values())
    # each iteration truncates once per transition CELL (<= k*k cells)
    assert 1_000_000 - 16 * k * k <= mass <= 1_000_000


def test_basket_set_pair_expansion_matches_distinct_self_join(spark):
    """r13: basket_part_rules / basket_brand_pair_lift build pair counts
    by sorted-SET expansion instead of a distinct-basket self-join — the
    directional count must match the join exactly, including duplicate
    partkeys within one order (the DISTINCT collapses multiplicity on
    BOTH sides identically) and singleton/equal-only orders (no pairs)."""
    from pyspark.sql import functions as F

    from sea_streamer_spark.operators.dedup import ordered_pairs_expr

    rows = [
        (1, 10), (1, 11), (1, 11), (1, 12),  # dup partkey 11 in order 1
        (2, 10), (2, 12),
        (3, 11), (3, 11),  # equal-only order -> no pairs
        (4, 13),           # singleton -> no pairs
        (5, 12), (5, 10),  # reversed insert order -> sort_array canon
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    baskets = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a0, b0 = baskets.alias("a0"), baskets.alias("b0")
    want = (
        a0.join(
            b0,
            (F.col("b0.o") == F.col("a0.o"))
            & (F.col("a0.p") != F.col("b0.p")),
        )
        .groupBy(F.col("a0.p").alias("pa"), F.col("b0.p").alias("pb"))
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
        .collect()
    )
    g = li.groupBy(F.col("l_orderkey").alias("o")).agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    up = (
        g.select(F.explode(ordered_pairs_expr(F.col("ps"), "pa", "pb")).alias("_p"))
        .groupBy(F.col("_p.pa").alias("pa"), F.col("_p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
    )
    got = up.unionByName(
        up.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"), "cab")
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # the unordered half really is ordered: sortedness => pa < pb
    assert all(r["pa"] < r["pb"] for r in up.collect())
