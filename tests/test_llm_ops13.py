"""Semantic pins for the round-9 llm_ops13 waves (21+: exact AUC,
Mann-Kendall trend); the auto-parametrized oracle test covers hash
parity."""

from __future__ import annotations

import math

import pyarrow.parquet as pq

from sea_streamer_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _run(spark, name, sf=SF):
    return QUERIES[name].fn(spark, sf)


# ---------------------------------------------------------------- wave 21


def _py_nb_margins(spark):
    """Per-held-out-doc (truth, integer micro-nat margin): the python
    third engine of the NB chain, mirrored from the llm_ops11 fidelity
    replay so the AUC pin shares no code with the query."""
    import re as _re
    from collections import Counter

    from sea_streamer_spark.operators.quality import gopher_quality_flags

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    labels = {
        r["doc_id"]: r["passes"]
        for r in gopher_quality_flags(docs).select("doc_id", "passes").collect()
    }
    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    toks = {
        d: [w for w in _re.split(r"\s+", x or "") if w]
        for d, x in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
    }
    cw: dict = {}
    np_docs = nf_docs = 0
    for d, ws in toks.items():
        if d % 2 == 0:
            if labels[d]:
                np_docs += 1
            else:
                nf_docs += 1
            for w in ws:
                e = cw.setdefault(w, [0, 0])
                e[0 if labels[d] else 1] += 1
    tp_tok = sum(e[0] for e in cw.values())
    tf_tok = sum(e[1] for e in cw.values())
    v = len(cw)
    pp = round(math.log(np_docs / (np_docs + nf_docs)) * 1_000_000)
    pf = round(math.log(nf_docs / (np_docs + nf_docs)) * 1_000_000)

    def lp(c, tot):
        return round(math.log((c + 1) / (tot + v)) * 1_000_000)

    out = []
    for d, ws in toks.items():
        if d % 2 == 0:
            continue
        sp, sf_ = pp, pf
        for w, k in Counter(ws).items():
            c = cw.get(w, [0, 0])
            sp += k * lp(c[0], tp_tok)
            sf_ += k * lp(c[1], tf_tok)
        out.append((labels[d], sp - sf_))
    return out


def test_nb_auc_full_python_replay(spark):
    margins = _py_nb_margins(spark)
    n_pos = sum(1 for t, _m in margins if t)
    n_neg = len(margins) - n_pos
    # midrank AUC, doubled to stay integer
    by_m = sorted(m for _t, m in margins)
    first = {}
    cnt = {}
    for i, m in enumerate(by_m, start=1):
        first.setdefault(m, i)
        cnt[m] = cnt.get(m, 0) + 1
    r2p = sum(
        2 * first[m] + cnt[m] - 1 for t, m in margins if t
    )
    u2 = r2p - n_pos * (n_pos + 1)
    r = _run(spark, "quality_nb_auc_eval").collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (n_pos, n_neg)
    assert r["u_stat_x2"] == u2
    assert r["auc_micro"] == 1_000_000 * u2 // (2 * n_pos * n_neg)
    # cross-check the rank identity against the brute-force pair count:
    # 2U = 2·#(pos>neg) + #(pos=neg)
    pos = [m for t, m in margins if t]
    neg = [m for t, m in margins if not t]
    brute2 = sum(
        2 if p > q else 1 if p == q else 0 for p in pos for q in neg
    )
    assert u2 == brute2
    assert 0 <= r["auc_micro"] <= 1_000_000


def test_nb_auc_consistent_with_fidelity_and_calibration(spark):
    r = _run(spark, "quality_nb_auc_eval").collect()[0]
    fid = _run(spark, "quality_nb_distill_fidelity").collect()[0]
    assert r["n_pos"] + r["n_neg"] == fid["n_eval"]
    assert r["n_pos"] == fid["tp"] + fid["fn"]
    # the sf0.01 model must actually rank (llm_ops11's baseline test
    # posture: at sf0.001 the 250-doc training half is honest noise)
    r01 = _run(
        spark, "quality_nb_auc_eval", "/root/testdata/sf0.01"
    ).collect()[0]
    assert r01["auc_micro"] > 500_000


def test_nb_auc_plan_jvm_only(spark):
    df = _run(spark, "quality_nb_auc_eval")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "EvalPython" not in plan, plan


# ---------------------------------------------------------------- wave 22


def test_mann_kendall_full_python_replay(spark):
    t = pq.read_table(f"{SF}/events.parquet", columns=["ts", "event_type"])
    daily: dict = {}
    for ts, et in zip(t.column("ts").to_pylist(), t.column("event_type").to_pylist()):
        daily.setdefault(et, {}).setdefault(ts.date(), 0)
        daily[et][ts.date()] += 1
    got = {
        r["event_type"]: r
        for r in _run(spark, "events_mann_kendall_trend").collect()
    }
    assert set(got) == set(daily)
    for et, dc in daily.items():
        days = sorted(dc)
        n = len(days)
        s = 0
        slopes = []
        for i in range(n):
            for j in range(i + 1, n):
                d = dc[days[j]] - dc[days[i]]
                s += (d > 0) - (d < 0)
                gap = (days[j] - days[i]).days
                slopes.append((round(1000.0 * d / gap), gap, days[i]))
        ties = {}
        for c in dc.values():
            ties[c] = ties.get(c, 0) + 1
        tie18 = sum(t_ * (t_ - 1) * (2 * t_ + 5) for t_ in ties.values())
        var18 = n * (n - 1) * (2 * n + 5) - tie18
        if s == 0 or var18 == 0:
            z = 0
        else:
            z = round((s - (1 if s > 0 else -1)) / math.sqrt(var18 / 18.0) * 1000)
        slopes.sort()
        sen = slopes[(len(slopes) + 1) // 2 - 1][0]
        r = got[et]
        assert r["n_days"] == n
        assert r["s_stat"] == s
        assert r["var18"] == var18
        assert r["z_milli"] == z, et
        assert r["sen_slope_milli"] == sen, et
        # S is bounded by the pair count; z by construction shrinks |S|
        assert abs(s) <= n * (n - 1) // 2


def test_mann_kendall_plan_dimension_bounded(spark):
    """Event grain is touched once (the cached daily rollup, visible as
    InMemory scans); pairs/ties/median all live on the day dimension. No
    python nodes, no cartesian (the registered query checkpoints, so the
    pin inspects the pre-checkpoint builder)."""
    from sea_streamer_spark.plans.event_rank_tests import _mann_kendall_frame

    df, daily = _mann_kendall_frame(spark, SF)
    try:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        daily.unpersist()
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "InMemoryTableScan" in plan, plan
    # events.parquet feeds only the (cached) daily rollup — one scan
    assert plan.count("events.parquet") == 1, plan


# ---------------------------------------------------------------- wave 23


def test_collocation_llr_full_python_replay(spark):
    import re as _re

    t = pq.read_table(f"{SF}/documents.parquet", columns=["text"])
    bi: dict = {}
    for x in t.column("text").to_pylist():
        toks = _re.split(r"\s+", x or "")
        for w1, w2 in zip(toks, toks[1:]):
            bi[(w1, w2)] = bi.get((w1, w2), 0) + 1
    r1: dict = {}
    c1: dict = {}
    n = 0
    for (w1, w2), c in bi.items():
        r1[w1] = r1.get(w1, 0) + c
        c1[w2] = c1.get(w2, 0) + c
        n += c

    def xlx(v):
        return v * math.log(v) if v > 0 else 0.0

    from sea_streamer_spark.plans.text_stats import _G2_MIN_PAIR, _G2_TOPK

    scored = []
    for (w1, w2), o11 in bi.items():
        if o11 < _G2_MIN_PAIR:
            continue
        rr, cc = r1[w1], c1[w2]
        g2h = (
            xlx(o11)
            + xlx(rr - o11)
            + xlx(cc - o11)
            + xlx(n - rr - cc + o11)
            - xlx(rr)
            - xlx(n - rr)
            - xlx(cc)
            - xlx(n - cc)
            + xlx(n)
        )
        scored.append((round(2000.0 * g2h), w1, w2, o11, rr, cc))
    scored.sort(key=lambda r: (-r[0], r[1], r[2]))
    want = scored[:_G2_TOPK]
    rows = _run(spark, "text_collocation_llr").collect()
    assert len(rows) == min(_G2_TOPK, len(scored))
    for r, w in zip(rows, want):
        assert (
            r["g2_milli"], r["w1"], r["w2"], r["n_pair"], r["n_w1"], r["n_w2"]
        ) == w
        # G² of an independence test is non-negative
        assert r["g2_milli"] >= 0
        # marginals bound the joint
        assert r["n_pair"] <= min(r["n_w1"], r["n_w2"])


def test_collocation_llr_plan_shape(spark):
    """One corpus tokenize feeding the bigram-type aggregate; marginals
    are windows over it (no re-derived aggregate joined back); top-k is
    a TakeOrdered, not a global sort; JVM-only."""
    df = _run(spark, "text_collocation_llr")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "EvalPython" not in plan, plan
    assert plan.count("documents.parquet") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan


# ---------------------------------------------------------------- wave 24


def _py_bucket(uid: int, buckets: int = 2) -> int:
    import hashlib

    h = 0
    for ch in hashlib.md5(str(uid).encode()).hexdigest():
        h = (h * 31 + ord(ch)) % 1_000_000_007
    return h % buckets


def test_cuped_full_python_replay(spark):
    t = pq.read_table(f"{SF}/events.parquet", columns=["ts", "user_id", "value"])
    rows = list(
        zip(t.column("ts").to_pylist(), t.column("user_id").to_pylist(),
            t.column("value").to_pylist())
    )
    d0 = min(ts.date() for ts, _u, _v in rows)
    from sea_streamer_spark.plans.event_ab_tests import _CUPED_PRE_DAYS

    users: dict = {}
    for ts, uid, v in rows:
        vi = round(v * 1000)
        xy = users.setdefault(uid, [0, 0])
        if (ts.date() - d0).days < _CUPED_PRE_DAYS:
            xy[0] += vi
        else:
            xy[1] += vi
    n = len(users)
    sx = sum(x for x, _y in users.values())
    sy = sum(y for _x, y in users.values())
    sxx = sum(x * x for x, _y in users.values())
    sxy = sum(x * y for x, y in users.values())
    syy = sum(y * y for _x, y in users.values())
    arms = {u: _py_bucket(u) for u in users}
    n_a = sum(1 for u in users if arms[u] == 0)
    n_b = n - n_a
    sx_a = sum(x for u, (x, _y) in users.items() if arms[u] == 0)
    sy_a = sum(y for u, (_x, y) in users.items() if arms[u] == 0)
    sx_b = sx - sx_a
    sy_b = sy - sy_a
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    theta = cov_n / varx_n
    dy = sy_a / n_a - sy_b / n_b
    dx = sx_a / n_a - sx_b / n_b
    r = _run(spark, "events_ab_cuped").collect()[0]
    assert (r["n_users"], r["n_a"], r["n_b"]) == (n, n_a, n_b)
    assert r["theta_micro"] == round(theta * 1_000_000)
    assert r["diff_micro"] == round(dy * 1000)
    assert r["adj_diff_micro"] == round((dy - theta * dx) * 1000)
    assert r["var_reduction_permille"] == round(
        cov_n * cov_n / (varx_n * vary_n) * 1000
    )
    # ρ² is a proportion
    assert 0 <= r["var_reduction_permille"] <= 1000


def test_cuped_consistent_with_srm_arms(spark):
    """The CUPED arm split must agree with the SRM check's population:
    same bucket hash ⇒ n_a + n_b equals the SRM row's total user count
    (the three A/B queries share one assignment)."""
    r = _run(spark, "events_ab_cuped").collect()[0]
    srm = _run(spark, "events_ab_srm_check").collect()[0]
    assert (r["n_a"], r["n_b"]) == (srm["n_a"], srm["n_b"])


def test_cuped_plan_single_event_scan(spark):
    df = _run(spark, "events_ab_cuped")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "EvalPython" not in plan, plan


# ---------------------------------------------------------------- wave 25


def test_prefix_filter_full_python_replay(spark):
    import re as _re

    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    sets: dict = {}
    for d, x in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        toks = _re.split(r"\s+", x or "")
        sh = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        if sh:
            sets[d] = sh
    df: dict = {}
    for sh_set in sets.values():
        for sh in sh_set:
            df[sh] = df.get(sh, 0) + 1
    prefix: dict = {}
    for d, sh_set in sets.items():
        n = len(sh_set)
        p = n - (n + 1) // 2 + 1
        prefix[d] = set(sorted(sh_set, key=lambda s: (df[s], s))[:p])
    inv_all: dict = {}
    inv_pre: dict = {}
    for d, sh_set in sets.items():
        for sh in sh_set:
            inv_all.setdefault(sh, []).append(d)
    for d, sh_set in prefix.items():
        for sh in sh_set:
            inv_pre.setdefault(sh, []).append(d)

    def pairs_of(inv):
        out = set()
        for ds_ in inv.values():
            ds_ = sorted(ds_)
            for i in range(len(ds_)):
                for j in range(i + 1, len(ds_)):
                    out.add((ds_[i], ds_[j]))
        return out

    cand_all = pairs_of(inv_all)
    cand_pre = pairs_of(inv_pre)
    exact = {
        (a, b)
        for a, b in cand_all
        if 2 * len(sets[a] & sets[b]) >= len(sets[a] | sets[b])
    }
    r = _run(spark, "dedup_prefix_filter_eval").collect()[0]
    assert r["n_docs"] == len(sets)
    assert r["n_candidates_allshare"] == len(cand_all)
    assert r["n_candidates_prefix"] == len(cand_pre)
    assert r["n_true_pairs"] == len(exact)
    assert r["n_verified"] == len(exact & cand_pre)
    assert r["n_missed"] == len(exact - cand_pre)
    # THE prefix-filtering theorem: J >= 1/2 pairs always collide in
    # the canonical prefixes
    assert r["n_missed"] == 0
    assert r["n_verified"] == r["n_true_pairs"]
    # prefix candidates are a subset of the all-share candidates
    assert cand_pre <= cand_all
    assert r["reduction_permille"] == (
        1000 * (len(cand_all) - len(cand_pre)) // len(cand_all)
        if cand_all
        else 0
    )


# ---------------------------------------------------------------- wave 26


def test_textrank_full_python_replay(spark):
    import re as _re

    from sea_streamer_spark.plans.graph import _TR_ITERS, _TR_STOPS, _TR_TOPK

    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    docs = {
        d: _re.split(r"\s+", x or "")
        for d, x in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
    }
    freq: dict = {}
    for toks in docs.values():
        for w in toks:
            freq[w] = freq.get(w, 0) + 1
    stop = {
        w for w, _c in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:_TR_STOPS]
    }
    wt: dict = {}
    for toks in docs.values():
        seq = [w for w in toks if w not in stop]
        for a, b in zip(seq, seq[1:]):
            if a != b:
                k = (min(a, b), max(a, b))
                wt[k] = wt.get(k, 0) + 1
    strength: dict = {}
    for (a, b), w in wt.items():
        strength[a] = strength.get(a, 0) + w
        strength[b] = strength.get(b, 0) + w
    s = {v: 1_000_000 for v in strength}
    for _ in range(_TR_ITERS):
        inc = {v: 0 for v in s}
        for (a, b), w in wt.items():
            inc[b] += (s[a] * 17 * w) // (20 * strength[a])
            inc[a] += (s[b] * 17 * w) // (20 * strength[b])
        s = {v: 150_000 + inc[v] for v in s}
    want = sorted(s.items(), key=lambda kv: (-kv[1], kv[0]))[:_TR_TOPK]
    rows = _run(spark, "text_textrank_keywords").collect()
    assert len(rows) == min(_TR_TOPK, len(want))
    for r, (w, sc) in zip(rows, want):
        assert (r["word"], r["score_micro"], r["strength"]) == (
            w, sc, strength[w]
        )
    # scores stay in the damped-PageRank band: floor is (1-d)
    assert all(r["score_micro"] >= 150_000 for r in rows)


# ---------------------------------------------------------------- wave 27


def test_poisson_bootstrap_full_python_replay(spark):
    import hashlib

    from sea_streamer_spark.plans.event_ab_tests import (
        _BOOT_HI,
        _BOOT_LO,
        _BOOT_MOD,
        _BOOT_R,
        _BOOT_STEP,
        _BOOT_T,
    )

    t = pq.read_table(f"{SF}/events.parquet", columns=["event_id", "value"])
    rows = list(
        zip(t.column("event_id").to_pylist(), t.column("value").to_pylist())
    )

    def fold(s):
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % _BOOT_MOD
        return h

    means = []
    tot_w = 0
    for r in range(_BOOT_R):
        num = den = 0
        for eid, val in rows:
            hb = fold(hashlib.md5(str(eid).encode()).hexdigest())
            u = (hb + (r + 1) * _BOOT_STEP) % _BOOT_MOD
            h = ((u * u) % _BOOT_MOD) * u % _BOOT_MOD
            w = sum(1 for thr in _BOOT_T if h >= thr)
            num += w * round(val * 1000)
            den += w
        tot_w += den
        means.append((0 if den == 0 else round(1000.0 * num / den), r))
    means.sort()
    lo = means[_BOOT_LO - 1][0]
    hi = means[_BOOT_HI - 1][0]
    point = round(1000.0 * sum(round(v * 1000) for _e, v in rows) / len(rows))
    r_ = _run(spark, "events_poisson_bootstrap_ci").collect()[0]
    assert r_["n_events"] == len(rows)
    assert r_["n_replicates"] == _BOOT_R
    assert r_["point_micro"] == point
    assert (r_["ci_lo_micro"], r_["ci_hi_micro"]) == (lo, hi)
    assert r_["width_micro"] == hi - lo
    # Poisson(1) weights must average ~1 (law of large numbers at
    # n*R = 40k draws; 5% is ~10 sigma)
    assert abs(tot_w / (len(rows) * _BOOT_R) - 1.0) < 0.05
    # a 95% CI that misses its own point estimate means broken ranks
    assert lo <= point <= hi


# ---------------------------------------------------------------- wave 28


def test_isotonic_matches_real_pav(spark):
    """The minimax identity must reproduce ACTUAL pool-adjacent-
    violators pooling (antitonic: rates non-increasing in decile)."""
    cal = _run(spark, "quality_nb_calibration_curve").collect()
    blocks = [
        [r["decile"], r["n_pass"], r["n_docs"]] for r in sorted(
            cal, key=lambda r: r["decile"]
        )
    ]
    # weighted PAV: merge while an adjacent pair violates non-increasing
    pooled = []
    for b in blocks:
        pooled.append([[b[0]], b[1], b[2]])
        while len(pooled) >= 2 and (
            pooled[-2][1] * pooled[-1][2] < pooled[-1][1] * pooled[-2][2]
        ):
            ds_, p2, n2 = pooled.pop()
            pooled[-1][0].extend(ds_)
            pooled[-1][1] += p2
            pooled[-1][2] += n2
    want = {}
    for ds_, p, n in pooled:
        for d in ds_:
            want[d] = 1_000_000_000 * p // n
    rows = _run(spark, "quality_isotonic_calibration").collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    for r in rows:
        assert r["iso_rate_nano"] == want[r["decile"]], r["decile"]
        assert r["iso_rate_permille"] == r["iso_rate_nano"] // 1_000_000
        assert r["raw_rate_permille"] == 1000 * r["n_pass"] // r["n_docs"]
    # the fit is antitonic by construction
    for a, b in zip(rows, rows[1:]):
        assert a["iso_rate_nano"] >= b["iso_rate_nano"]
    # pooling preserves total mass: weighted mean of fit == raw mean
    tot_docs = sum(r["n_docs"] for r in rows)
    fit_mass = sum(r["iso_rate_nano"] * r["n_docs"] for r in rows)
    raw_mass = sum(1_000_000_000 * r["n_pass"] for r in rows)
    # nano flooring loses < 1 per doc
    assert abs(fit_mass - raw_mass) < tot_docs


# ---------------------------------------------------------------- wave 29


def test_psi_full_python_replay(spark):
    t = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "n_chars", "source"]
    )
    rows = sorted(
        zip(t.column("n_chars").to_pylist(), t.column("doc_id").to_pylist(),
            t.column("source").to_pylist())
    )
    n = len(rows)
    # NTILE(10) semantics: first (n % 10) tiles get ceil(n/10)
    base, extra = divmod(n, 10)
    cells: dict = {}
    srcs: dict = {}
    tots = [0] * 11
    pos = 0
    for b in range(1, 11):
        size = base + (1 if b <= extra else 0)
        for _ in range(size):
            _c, _d, src = rows[pos]
            cells[(src, b)] = cells.get((src, b), 0) + 1
            srcs[src] = srcs.get(src, 0) + 1
            tots[b] += 1
            pos += 1
    got = {r["source"]: r for r in _run(spark, "profile_psi_source_drift").collect()}
    assert set(got) == set(srcs)
    for src, n1 in srcs.items():
        psi = 0
        for b in range(1, 11):
            c = cells.get((src, b), 0)
            p = (c + 1) / (n1 + 10)
            q = (tots[b] - c + 1) / (n - n1 + 10)
            psi += round((p - q) * math.log(p / q) * 1_000_000)
        r = got[src]
        assert r["n1"] == n1
        assert r["psi_micro"] == psi, src
        # PSI is non-negative (sum of (p-q)ln(p/q) terms, each >= 0)
        assert r["psi_micro"] >= 0


# ---------------------------------------------------------------- wave 30


def test_ewma_full_python_replay(spark):
    t = pq.read_table(f"{SF}/events.parquet", columns=["ts", "event_type"])
    daily: dict = {}
    for ts, et in zip(t.column("ts").to_pylist(), t.column("event_type").to_pylist()):
        daily.setdefault(et, {}).setdefault(ts.date(), 0)
        daily[et][ts.date()] += 1
    got = {r["event_type"]: r for r in _run(spark, "events_ewma_forecast_eval").collect()}
    assert set(got) == set(daily)
    for et, dc in daily.items():
        cs = [dc[d] for d in sorted(dc)]
        s = float(cs[0])
        errs = []
        for c in cs[1:]:
            errs.append(round(1_000_000 * (c - s)))
            s = (c + s) / 2.0  # alpha = 1/2, exact dyadic doubles
        r = got[et]
        assert r["n_days"] == len(cs)
        assert r["level_micro"] == round(1_000_000 * s)
        assert r["mae_micro"] == sum(abs(e) for e in errs) // len(errs)
        assert r["max_abs_err_micro"] == max(abs(e) for e in errs)


# ---------------------------------------------------------------- wave 31


def test_pareto_front_brute_force_dominance(spark):
    import re as _re

    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    pts = {}
    for d, x in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        toks = _re.split(r"\s+", x or "")
        pts[d] = (len(toks), len(set(toks)))
    front = set()
    for d, (x, y) in pts.items():
        dominated = any(
            (x2 >= x and y2 >= y and (x2 > x or y2 > y))
            for d2, (x2, y2) in pts.items()
            if d2 != d
        )
        if not dominated:
            front.add(d)
    rows = _run(spark, "curation_pareto_front").collect()
    assert {r["doc_id"] for r in rows} == front
    for r in rows:
        assert (r["n_tokens"], r["n_distinct_tokens"]) == pts[r["doc_id"]]
    # consistency with text_token_stats (same tokenizer, same counts)
    ts_ = {
        r["doc_id"]: (r["n_tokens"], r["n_distinct_tokens"])
        for r in _run(spark, "text_token_stats").collect()
    }
    for r in rows:
        assert ts_[r["doc_id"]] == (r["n_tokens"], r["n_distinct_tokens"])


# ---------------------------------------------------------------- wave 32


def _embeddings(sf=SF):
    t = pq.read_table(f"{sf}/embeddings.parquet", columns=["vec_id", "embedding"])
    return dict(zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()))


def test_kcenter_full_python_replay(spark):
    from sea_streamer_spark.operators.similarity import cos_py
    from sea_streamer_spark.plans.similarity import _KC_K

    emb = _embeddings()
    seed = min(emb)
    chosen = [seed]
    dmin = {
        v: 1_000_000 - math.floor(cos_py(emb[v], emb[seed]) * 1_000_000)
        for v in emb
    }
    want = [(1, seed, -1)]
    for r in range(2, _KC_K + 1):
        pick = max(dmin, key=lambda v: (dmin[v], -v))
        want.append((r, pick, dmin[pick]))
        chosen.append(pick)
        for v in emb:
            d = 1_000_000 - math.floor(cos_py(emb[v], emb[pick]) * 1_000_000)
            if d < dmin[v]:
                dmin[v] = d
    rows = _run(spark, "curation_kcenter_coreset").collect()
    assert [(r["round"], r["vec_id"], r["radius_micro"]) for r in rows] == want
    # Gonzalez invariant: the covering radius never increases
    radii = [r["radius_micro"] for r in rows[1:]]
    assert radii == sorted(radii, reverse=True)
    # all centers distinct
    assert len({r["vec_id"] for r in rows}) == len(rows)


# ---------------------------------------------------------------- wave 33


def test_burstiness_full_python_replay(spark):
    import re as _re

    from sea_streamer_spark.plans.text_stats import _BURST_MIN_TOTAL, _BURST_TOPK

    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    per_w: dict = {}
    n_docs = 0
    for x in t.column("text").to_pylist():
        n_docs += 1
        cnt: dict = {}
        for w in _re.split(r"\s+", x or ""):
            cnt[w] = cnt.get(w, 0) + 1
        for w, k in cnt.items():
            e = per_w.setdefault(w, [0, 0, 0])  # tot, sq, docs
            e[0] += k
            e[1] += k * k
            e[2] += 1
    scored = [
        (1000 * (n_docs * sq - tot * tot) // (n_docs * tot), w, tot, dw)
        for w, (tot, sq, dw) in per_w.items()
        if tot >= _BURST_MIN_TOTAL
    ]
    scored.sort(key=lambda r: (-r[0], r[1]))
    want = scored[:_BURST_TOPK]
    rows = _run(spark, "text_word_burstiness").collect()
    assert len(rows) == min(_BURST_TOPK, len(scored))
    for r, (vmr, w, tot, dw) in zip(rows, want):
        assert (r["w"], r["n_total"], r["n_docs_with"], r["vmr_milli"]) == (
            w, tot, dw, vmr
        )
        # VMR >= 0 by Cauchy-Schwarz; zero-inflation means bursty words
        # appear in fewer docs than a Poisson spread would give
        assert r["vmr_milli"] >= 0


# ---------------------------------------------------------------- wave 34


def test_submodular_coverage_full_python_replay(spark):
    import re as _re

    from sea_streamer_spark.plans.dedup_curation import _SUB_K

    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    sets: dict = {}
    for d, x in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        toks = _re.split(r"\s+", x or "")
        sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        if sh:
            sets[d] = sh
    universe = set().union(*sets.values())
    covered: set = set()
    picked: list = []
    want = []
    for r in range(1, _SUB_K + 1):
        best = max(
            ((len(sh - covered), -d) for d, sh in sets.items() if d not in picked),
        )
        gain, d = best[0], -best[1]
        picked.append(d)
        covered |= sets[d]
        want.append((r, d, gain, len(covered), 1000 * len(covered) // len(universe)))
    rows = _run(spark, "curation_submodular_coverage").collect()
    got = [
        (r["round"], r["doc_id"], r["gain"], r["covered"],
         r["coverage_permille"]) for r in rows
    ]
    assert got == want
    # submodularity: marginal gains are non-increasing
    gains = [r["gain"] for r in rows]
    assert gains == sorted(gains, reverse=True)
    # coverage strictly grows while gain > 0
    covs = [r["covered"] for r in rows]
    assert all(b > a for a, b in zip(covs, covs[1:]))


# ---------------------------------------------------------------- wave 35


def test_nb_metrics_consistent_with_fidelity(spark):
    fid = _run(spark, "quality_nb_distill_fidelity").collect()[0]
    r = _run(spark, "quality_nb_metrics_summary").collect()[0]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (
        fid["tp"], fid["fp"], fid["fn"], fid["tn"]
    )
    tp, fp, fn, tn = r["tp"], r["fp"], r["fn"], r["tn"]
    assert r["precision_permille"] == (1000 * tp // (tp + fp) if tp + fp else -1)
    assert r["recall_permille"] == (1000 * tp // (tp + fn) if tp + fn else -1)
    assert r["f1_permille"] == 2000 * tp // (2 * tp + fp + fn)
    assert r["balanced_acc_permille"] == (
        (1000 * tp // (tp + fn) + 1000 * tn // (tn + fp)) // 2
    )
    den = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    if den:
        assert r["mcc_milli"] == round(
            1000.0 * (tp * tn - fp * fn)
            / math.sqrt(float((tp + fp) * (tp + fn)) * ((tn + fp) * (tn + fn)))
        )
    assert -1000 <= r["mcc_milli"] <= 1000


# ---------------------------------------------------------------- wave 36


def test_theil_full_python_replay(spark):
    import duckdb

    con = duckdb.connect()
    rows = con.sql(f"""
        SELECT n.n_name, CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
               AS BIGINT)
        FROM '{SF}/orders.parquet' o
        JOIN '{SF}/customer.parquet' c ON c.c_custkey = o.o_custkey
        JOIN '{SF}/nation.parquet' n ON n.n_nationkey = c.c_nationkey
    """).fetchall()
    con.close()
    per: dict = {}
    for nat, cents in rows:
        per.setdefault(nat, []).append(cents)
    got = {r["nation"]: r for r in _run(spark, "agg_theil_index_by_nation").collect()}
    assert set(got) == set(per)
    for nat, xs in per.items():
        n = len(xs)
        tot = sum(xs)
        s = sum(round((c * n / tot) * math.log(c * n / tot) * 1_000_000) for c in xs)
        r = got[nat]
        assert r["n_orders"] == n
        assert r["theil_micro"] == s // n, nat
        # Theil T is non-negative and bounded by ln(n)
        assert 0 <= r["theil_micro"] <= math.log(n) * 1_000_000


# ---------------------------------------------------------------- wave 37


def test_cdc_chunking_full_python_replay(spark):
    from sea_streamer_spark.plans.span_dedup import _CDC_MASK, _CDC_WINDOW

    t = pq.read_table(f"{SF}/documents.parquet", columns=["text", "source"])
    per_src: dict = {}
    MOD = 1_000_000_007
    for x, src in zip(t.column("text").to_pylist(), t.column("source").to_pylist()):
        if not x:
            continue
        n = len(x)
        ends = []
        for i in range(_CDC_WINDOW, n + 1):
            h = 0
            for ch in x[i - _CDC_WINDOW : i]:
                h = (h * 31 + ord(ch)) % MOD
            if h % _CDC_MASK == 0:
                ends.append(i)
        if not ends or ends[-1] != n:
            ends.append(n)
        agg = per_src.setdefault(src, [0, set(), 0])  # n_chunks, fps, len
        prev = 0
        for e in ends:
            agg[0] += 1
            agg[1].add(x[prev:e])
            agg[2] += e - prev
            prev = e
    got = {r["source"]: r for r in _run(spark, "dedup_cdc_chunking").collect()}
    assert set(got) == set(per_src)
    for src, (nc, fps, tot) in per_src.items():
        r = got[src]
        assert r["n_chunks"] == nc, src
        assert r["n_distinct_chunks"] == len(fps), src
        assert r["dup_chunk_permille"] == 1000 * (nc - len(fps)) // nc
        assert r["mean_chunk_len_milli"] == 1000 * tot // nc
        # chunks partition the text: mean length near the 64-char target
        # only if boundaries fire; at minimum the partition property holds
        assert r["mean_chunk_len_milli"] > 0


def test_cdc_boundaries_are_local(spark):
    """THE content-defined property: prepending bytes to a doc shifts
    chunk starts but re-synchronizes — the chunk fingerprint multiset
    of the shared suffix mostly survives. Verified directly in python
    on one fixture doc (an engine-independent semantic pin of why this
    operator exists)."""
    from sea_streamer_spark.plans.span_dedup import _CDC_MASK, _CDC_WINDOW

    t = pq.read_table(f"{SF}/documents.parquet", columns=["text"])
    x = next(s for s in t.column("text").to_pylist() if s and len(s) > 400)
    MOD = 1_000_000_007

    def chunks(s):
        n = len(s)
        ends = []
        for i in range(_CDC_WINDOW, n + 1):
            h = 0
            for ch in s[i - _CDC_WINDOW : i]:
                h = (h * 31 + ord(ch)) % MOD
            if h % _CDC_MASK == 0:
                ends.append(i)
        if not ends or ends[-1] != n:
            ends.append(n)
        out, prev = [], 0
        for e in ends:
            out.append(s[prev:e])
            prev = e
        return out

    base = chunks(x)
    shifted = chunks("PREFIX-" + x)
    shared = set(base) & set(shifted)
    # all but the first boundary-spanning chunks re-align
    assert len(shared) >= max(1, len(base) - 2)


# ---------------------------------------------------------------- wave 38


def test_ohlc_full_python_replay(spark):
    t = pq.read_table(
        f"{SF}/events.parquet", columns=["ts", "event_id", "event_type", "value"]
    )
    rows = sorted(
        zip(t.column("ts").to_pylist(), t.column("event_id").to_pylist(),
            t.column("event_type").to_pylist(), t.column("value").to_pylist())
    )
    bars: dict = {}
    for ts, eid, et, v in rows:
        tus = int(ts.timestamp() * 1_000_000)
        vm = round(v * 1000)
        key = (et, tus // 3_600_000_000)
        b = bars.setdefault(key, [None, -10**18, 10**18, None, 0, None, None])
        if b[5] is None or (tus, eid) < b[5]:
            b[5] = (tus, eid); b[0] = vm
        if b[6] is None or (tus, eid) > b[6]:
            b[6] = (tus, eid); b[3] = vm
        b[1] = max(b[1], vm)
        b[2] = min(b[2], vm)
        b[4] += 1
    got = {
        (r["event_type"], r["hour"]): r
        for r in _run(spark, "window_ohlc_hourly").collect()
    }
    assert set(got) == set(bars)
    for key, (o, h, lo, c, n, _a, _b) in bars.items():
        r = got[key]
        assert (r["open_milli"], r["high_milli"], r["low_milli"],
                r["close_milli"], r["n"]) == (o, h, lo, c, n), key
        assert r["low_milli"] <= min(r["open_milli"], r["close_milli"])
        assert r["high_milli"] >= max(r["open_milli"], r["close_milli"])


# ---------------------------------------------------------------- wave 39


def test_twap_full_python_replay(spark):
    t = pq.read_table(
        f"{SF}/events.parquet", columns=["ts", "event_id", "event_type", "value"]
    )
    per: dict = {}
    for ts, eid, et, v in zip(
        t.column("ts").to_pylist(), t.column("event_id").to_pylist(),
        t.column("event_type").to_pylist(), t.column("value").to_pylist()
    ):
        per.setdefault(et, []).append(
            (int(ts.timestamp() * 1_000_000), eid, round(v * 1000))
        )
    got = {r["event_type"]: r for r in _run(spark, "events_twap_by_type").collect()}
    assert set(got) == set(per)
    for et, evs in per.items():
        evs.sort()
        num = den = sv = 0
        for (t0, _e0, v0), (t1, _e1, _v1) in zip(evs, evs[1:]):
            num += v0 * (t1 - t0)
            den += t1 - t0
            sv += v0
        r = got[et]
        assert r["n_segments"] == len(evs) - 1
        assert r["span_us"] == den == evs[-1][0] - evs[0][0]
        assert r["twap_milli"] == num // den
        assert r["naive_mean_milli"] == sv // (len(evs) - 1)
        # TWAP lies within the value range
        vs = [v for _t, _e, v in evs[:-1]]
        assert min(vs) <= r["twap_milli"] <= max(vs)


# ---------------------------------------------------------------- wave 40


def test_char_entropy_full_python_replay(spark):
    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    got = {r["doc_id"]: r for r in _run(spark, "text_char_entropy").collect()}
    n_checked = 0
    for d, x in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        if not x:
            assert d not in got
            continue
        cnt: dict = {}
        for ch in x:
            cnt[ch] = cnt.get(ch, 0) + 1
        n = len(x)
        s = sum(round(k * math.log(k) * 1_000_000) for k in cnt.values())
        h = round(math.log(n) * 1_000_000) - s // n
        r = got[d]
        assert r["n_chars"] == n
        assert r["n_distinct_chars"] == len(cnt)
        assert r["entropy_micro"] == h, d
        # 0 <= H <= ln(alphabet), up to per-term rounding slack
        assert -2 <= r["entropy_micro"]
        assert r["entropy_micro"] <= round(math.log(len(cnt)) * 1_000_000) + 2
        n_checked += 1
    assert n_checked == len(got)


# ---------------------------------------------------------------- wave 41


def test_dp_budget_consistent_with_k_anonymity(spark):
    from sea_streamer_spark.plans.relational_stats import _DP_EPS

    ka = {
        (r["nation"], r["segment"]): r
        for r in _run(spark, "privacy_k_anonymity").collect()
    }
    rows = _run(spark, "privacy_dp_budget_plan").collect()
    assert len(rows) == len(ka) * len(_DP_EPS)
    for r in rows:
        k = ka[(r["nation"], r["segment"])]
        # single-sourced cells: identical class sizes and risk flags
        assert r["class_size"] == k["class_size"]
        assert r["k_anonymous"] == 1 - k["at_risk"]
        b = dict(_DP_EPS)[r["eps_micro"]]
        assert r["noise_scale_micro"] == b
        assert r["rel_err_permille"] == 1000 * b // (r["class_size"] * 1_000_000)
    # tighter privacy (smaller eps) always costs more relative error
    for (nat, seg) in ka:
        errs = [
            r["rel_err_permille"] for r in rows
            if (r["nation"], r["segment"]) == (nat, seg)
        ]  # ordered by eps ascending
        assert errs == sorted(errs, reverse=True)


# ---------------------------------------------------------------- wave 42


def _neardup_pairs(spark):
    return [
        (r["doc_a"], r["doc_b"])
        for r in _run(spark, "dedup_minhash_lsh").select("doc_a", "doc_b").collect()
    ]


def test_assortativity_python_replay(spark):
    pairs = _neardup_pairs(spark)
    deg: dict = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    m2 = sj = sjk = sjj = 0
    for a, b in pairs:
        for j, k in ((deg[a], deg[b]), (deg[b], deg[a])):
            m2 += 1
            sj += j
            sjk += j * k
            sjj += j * j
    den = m2 * sjj - sj * sj
    want = 0 if den == 0 else round(1000.0 * (m2 * sjk - sj * sj) / den)
    r = _run(spark, "graph_degree_assortativity").collect()[0]
    assert r["n_nodes"] == len(deg)
    assert r["n_edges"] == len(pairs)
    assert r["assortativity_milli"] == want
    # a correlation lives in [-1, 1]
    assert -1000 <= r["assortativity_milli"] <= 1000


# ---------------------------------------------------------------- wave 43


def test_modularity_python_replay(spark):
    pairs = _neardup_pairs(spark)
    # union-find components
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    deg: dict = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    m = len(pairs)
    mc: dict = {}
    dc: dict = {}
    for a, b in pairs:
        mc[find(a)] = mc.get(find(a), 0) + 1
    for v, d in deg.items():
        dc[find(v)] = dc.get(find(v), 0) + d
    num = sum(4 * m * mc[c] - dc[c] * dc[c] for c in mc)
    r = _run(spark, "graph_neardup_modularity").collect()[0]
    assert r["n_components"] == len(mc)
    assert r["n_edges"] == m
    assert r["q_numerator"] == num
    assert r["modularity_micro"] == round(1_000_000.0 * num / (4.0 * m * m))
    # component partition: all edges intra ⇒ sum(m_c) = m and
    # Q = 1 - sum(d_c^2)/4m^2 ∈ (0, 1)
    assert sum(mc.values()) == m
    assert 0 < r["modularity_micro"] < 1_000_000


# ---------------------------------------------------------------- wave 44


def test_anisotropy_full_python_replay(spark):
    emb = _embeddings()
    n = len(emb)
    d = len(next(iter(emb.values())))
    s = [0] * d
    ssq = 0
    for v in emb.values():
        nrm = math.sqrt(sum(float(x) * float(x) for x in v))
        for j, x in enumerate(v):
            um = round(1000 * float(x) / nrm)
            s[j] += um
            ssq += um * um
    s2 = sum(x * x for x in s)
    # engines divide with truncation toward zero (the _idiv_col modulo
    # trick; DuckDB // verified same in the r9 wave-13 note) — mirror it
    num = s2 - ssq
    den = n * (n - 1)
    aniso = abs(num) // den * (1 if num >= 0 else -1)
    top_dim = max(range(d), key=lambda j: (s[j] * s[j], -j)) + 1
    r = _run(spark, "embedding_anisotropy_audit").collect()[0]
    assert r["n_vectors"] == n
    assert r["anisotropy_micro"] == aniso
    assert r["top_dim"] == top_dim
    assert r["top_dim_share_permille"] == (
        1000 * s[top_dim - 1] ** 2 // s2 if s2 else 0
    )
    # identity cross-check: the O(n·d) form equals the brute-force
    # pairwise sum of rounded-unit-vector dots
    um = {}
    for k, v in emb.items():
        nrm = math.sqrt(sum(float(x) * float(x) for x in v))
        um[k] = [round(1000 * float(x) / nrm) for x in v]
    ids = sorted(um)
    brute = sum(
        sum(a * b for a, b in zip(um[i], um[j]))
        for ii, i in enumerate(ids)
        for j in ids[ii + 1 :]
    )
    assert s2 - ssq == 2 * brute
    # a cosine expectation lives in [-1e6, 1e6]
    assert -1_000_000 <= r["anisotropy_micro"] <= 1_000_000


# ---------------------------------------------------------------- wave 45


def test_powerlaw_full_python_replay(spark):
    from sea_streamer_spark.plans.event_trends import _PL_XMIN

    t = pq.read_table(f"{SF}/events.parquet", columns=["user_id"])
    ua: dict = {}
    for u in t.column("user_id").to_pylist():
        ua[u] = ua.get(u, 0) + 1
    tail = [x for x in ua.values() if x >= _PL_XMIN]
    sterm = sum(round(math.log(x / _PL_XMIN) * 1_000_000) for x in tail)
    r = _run(spark, "events_user_powerlaw_mle").collect()[0]
    assert r["n_users"] == len(ua)
    assert r["n_tail"] == len(tail)
    assert r["x_min"] == _PL_XMIN
    if sterm <= 0:
        assert r["alpha_micro"] == -1
    else:
        assert r["alpha_micro"] == 1_000_000 + (
            1_000_000 * len(tail) * 1_000_000 // sterm
        )
        # a fitted tail exponent is > 1 by construction
        assert r["alpha_micro"] > 1_000_000


# ---------------------------------------------------------------- wave 46


def test_symmetric_diff_python_replay(spark):
    t = pq.read_table(f"{SF}/customer.parquet", columns=["c_nationkey"])
    s = pq.read_table(f"{SF}/supplier.parquet", columns=["s_nationkey"])
    from collections import Counter

    ca = Counter(t.column("c_nationkey").to_pylist())
    cb = Counter(s.column("s_nationkey").to_pylist())
    want = Counter()
    for v in set(ca) | set(cb):
        want[v] = abs(ca.get(v, 0) - cb.get(v, 0))
    rows = _run(spark, "set_symmetric_diff_multiset").collect()
    got = Counter(r["nationkey"] for r in rows)
    assert got == +want


# ---------------------------------------------------------------- wave 47


def test_bitmask_equals_gaps_and_islands(spark):
    """Same semantic, two disjoint algorithms: the bit-smearing streak
    must equal the gaps-and-islands streak for every user, and popcount
    must equal the distinct-day count."""
    gi = {
        r["user_id"]: r["longest_streak_days"]
        for r in _run(spark, "events_longest_daily_streak").collect()
    }
    rows = _run(spark, "events_user_day_bitmask").collect()
    assert {r["user_id"] for r in rows} == set(gi)
    for r in rows:
        assert r["longest_streak_days"] == gi[r["user_id"]], r["user_id"]
        assert r["longest_streak_days"] <= r["n_active_days"]
        assert bin(r["day_mask"]).count("1") == r["n_active_days"]


def test_bitmask_full_python_replay(spark):
    t = pq.read_table(f"{SF}/events.parquet", columns=["ts", "user_id"])
    days: dict = {}
    d0 = min(ts.date() for ts in t.column("ts").to_pylist())
    for ts, u in zip(t.column("ts").to_pylist(), t.column("user_id").to_pylist()):
        off = (ts.date() - d0).days
        if off < 62:
            days.setdefault(u, set()).add(off)
    got = {r["user_id"]: r for r in _run(spark, "events_user_day_bitmask").collect()}
    assert set(got) == set(days)
    for u, offs in days.items():
        mask = sum(1 << o for o in offs)
        m, streak = mask, 0
        while m:
            streak += 1
            m &= m << 1
        r = got[u]
        assert r["day_mask"] == mask
        assert r["n_active_days"] == len(offs)
        assert r["longest_streak_days"] == streak


# ---------------------------------------------------------------- wave 48


def test_masked_esd_full_python_replay(spark):
    from sea_streamer_spark.plans.event_trends import _ESD_CUTOFF_MILLI, _ESD_ROUNDS

    t = pq.read_table(f"{SF}/events.parquet", columns=["ts"])
    daily: dict = {}
    for ts in t.column("ts").to_pylist():
        daily[ts.date()] = daily.get(ts.date(), 0) + 1
    remaining = dict(daily)
    want = []
    for k in range(1, _ESD_ROUNDS + 1):
        n = len(remaining)
        s = sum(remaining.values())
        ss = sum(c * c for c in remaining.values())
        mean = s / n
        sd = math.sqrt((n * ss - s * s) / (n * (n - 1)))
        scored = sorted(
            ((round(1000 * abs(c - mean) / sd), d, c) for d, c in remaining.items()),
            key=lambda r: (-r[0], r[1]),
        )
        r_milli, d, c = scored[0]
        want.append((k, d.strftime("%Y-%m-%d"), c, r_milli,
                     1 if r_milli > _ESD_CUTOFF_MILLI else 0))
        del remaining[d]
    rows = _run(spark, "events_anomaly_masked_esd").collect()
    got = [(r["round"], r["day"], r["n_events"], r["r_milli"], r["flagged"])
           for r in rows]
    assert got == want
    # the masking property: each round's stats EXCLUDE prior picks, so
    # the reported days are all distinct
    assert len({r["day"] for r in rows}) == _ESD_ROUNDS


# ---------------------------------------------------------------- wave 49


def test_abc_analysis_full_python_replay(spark):
    import duckdb

    con = duckdb.connect()
    rev = dict(con.sql(f"""
        SELECT l_partkey,
               SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                   AS BIGINT))
        FROM '{SF}/lineitem.parquet' GROUP BY 1
    """).fetchall())
    con.close()
    order = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
    tot = sum(rev.values())
    cum = 0
    agg = {"A": [0, 0], "B": [0, 0], "C": [0, 0]}
    for _pk, cents in order:
        cum += cents
        cls = "A" if 20 * cum <= 16 * tot else ("B" if 20 * cum <= 19 * tot else "C")
        agg[cls][0] += 1
        agg[cls][1] += cents
    rows = {r["abc_class"]: r for r in _run(spark, "orders_abc_analysis").collect()}
    assert set(rows) == {k for k, v in agg.items() if v[0] > 0}
    for cls, (n, cents) in agg.items():
        if n == 0:
            continue
        r = rows[cls]
        assert (r["n_parts"], r["revenue_cents"]) == (n, cents), cls
        assert r["revenue_share_permille"] == 1000 * cents // tot
    # A (the first 80% of revenue) must out-earn C by construction;
    # the classic "few parts in A" shape needs a skewed catalog — this
    # synthetic fixture's part revenue is near-uniform, so only the
    # revenue ordering is a guaranteed property
    if "A" in rows and "C" in rows:
        assert rows["A"]["revenue_cents"] > rows["C"]["revenue_cents"]
    # classes partition the catalog and the revenue exactly
    assert sum(r["revenue_cents"] for r in rows.values()) == tot
    assert sum(r["n_parts"] for r in rows.values()) == len(rev)


# ---------------------------------------------------------------- wave 50


def test_jm_lambda_em_full_python_replay(spark):
    import re as _re

    from sea_streamer_spark.plans.quality_calibration import _JM_ITERS

    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    docs = {
        d: _re.split(r"\s+", x or "")
        for d, x in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
    }
    uni: dict = {}
    bi: dict = {}
    for d, toks in docs.items():
        if d % 2 == 0:
            for w in toks:
                uni[w] = uni.get(w, 0) + 1
            for a, b in zip(toks, toks[1:]):
                bi[(a, b)] = bi.get((a, b), 0) + 1
    n_tok = sum(uni.values())
    v = len(uni)
    pos = []
    for d, toks in docs.items():
        if d % 2 == 1:
            for a, b in zip(toks, toks[1:]):
                pb = (
                    1_000_000_000 * bi[(a, b)] // uni[a]
                    if (a, b) in bi
                    else 0
                )
                pu = 1_000_000_000 * (uni.get(b, 0) + 1) // (n_tok + v)
                pos.append((pb, pu))
    lam = 500
    want = []
    for k in range(1, _JM_ITERS + 1):
        s = sum(
            1000 * lam * pb // (lam * pb + (1000 - lam) * pu)
            for pb, pu in pos
        )
        lam = s // len(pos)
        want.append((k, lam, len(pos)))
    rows = _run(spark, "quality_jm_lambda_em").collect()
    got = [(r["iteration"], r["lambda_milli"], r["n_positions"]) for r in rows]
    assert got == want
    # λ is a mixing weight; the fitted value must put real mass on the
    # bigram component (the corpus is bigram-predictable by design)
    assert 0 <= rows[-1]["lambda_milli"] <= 1000
    assert rows[-1]["lambda_milli"] > 250
    # EM contracts: step sizes are non-increasing and shrink overall
    # (at this fixture λ is still sliding at iteration 10 — the curve
    # IS the deliverable; a fixpoint pin would be dishonest here)
    lams = [500] + [r["lambda_milli"] for r in rows]
    steps = [abs(b - a) for a, b in zip(lams, lams[1:])]
    assert all(b <= a for a, b in zip(steps, steps[1:]))
    assert steps[-1] < steps[0]


# ---------------------------------------------------------------- wave 51


def test_idiv_col_exact_above_double_precision(spark):
    """The regression that motivated the decimal _idiv_col: operands
    past 2^53 with an exactly-integral quotient must not truncate one
    below (the old double-division modulo trick returned 6 here)."""
    from pyspark.sql import functions as F

    from sea_streamer_spark.operators.exact import idiv_col

    a = 380246347954840 * 1000
    b = 20302 * 2591642839594
    df = spark.createDataFrame(
        [(a, b), (a + 1, b), (-a, b)], "a long, b long"
    )
    got = [
        r["q"] for r in df.select(idiv_col(F.col("a"), F.col("b")).alias("q")).collect()
    ]
    def trunc(x, y):
        return abs(x) // y * (1 if x >= 0 else -1)
    assert got == [trunc(a, b), trunc(a + 1, b), trunc(-a, b)]


def test_arrival_uniformity_full_python_replay(spark):
    t = pq.read_table(
        f"{SF}/events.parquet", columns=["ts", "event_id", "event_type"]
    )
    per: dict = {}
    for ts, eid, et in zip(
        t.column("ts").to_pylist(), t.column("event_id").to_pylist(),
        t.column("event_type").to_pylist()
    ):
        per.setdefault(et, []).append((int(ts.timestamp() * 1_000_000), eid))
    got = {
        r["event_type"]: r
        for r in _run(spark, "events_arrival_uniformity_ks").collect()
    }
    assert set(got) == set(per)
    for et, evs in per.items():
        evs.sort()
        tus = [u for u, _e in evs]
        n = len(tus)
        t0, t1 = tus[0], tus[-1]
        span = t1 - t0
        d_num = max(
            max(i * span - n * (u - t0), n * (u - t0) - (i - 1) * span)
            for i, u in enumerate(tus, 1)
        )
        r = got[et]
        assert r["n"] == n
        assert r["span_us"] == span
        assert r["d_milli"] == 1000 * d_num // (n * span), et
        assert r["z_milli"] == round(
            math.sqrt(n) * d_num / (n * span) * 1000
        ), et
        # D is a sup of ECDF deviations: within [0, 1]
        assert 0 <= r["d_milli"] <= 1000


# ------------------------------------------------------------- round 10
# ADVICE fixes: fixed-point scaling inside decimal space, and the EWMA
# closed-form capacity guard.


def test_idiv_col_scale_exact_past_bigint(spark):
    """The r9 ADVICE class: pre-multiplying the numerator by the
    fixed-point factor in BIGINT (``F.lit(1000) * a``) wraps silently
    once a > 2^63/1000. The ``scale=`` path multiplies inside
    DECIMAL(38,0), so 1000·a stays exact far past BIGINT."""
    from pyspark.sql import functions as F

    from sea_streamer_spark.operators.exact import idiv_col

    a = 5_300_000_000_000_000_123  # ~5.3e18: 1000*a wraps int64
    b = 20302 * 2591642839594
    df = spark.createDataFrame([(a, b), (-a, b)], "a long, b long")
    got = [
        r["q"]
        for r in df.select(
            idiv_col(F.col("a"), F.col("b"), scale=1000).alias("q")
        ).collect()
    ]
    def trunc(x, y):
        return abs(x) // y * (1 if x >= 0 else -1)
    assert got == [trunc(1000 * a, b), trunc(-1000 * a, b)]
    # the scaled powerlaw form too: 1e12 * n past int64
    df2 = spark.createDataFrame([(9_300_000, 17)], "n long, d long")
    (got2,) = [
        r["q"]
        for r in df2.select(
            idiv_col(F.col("n"), F.col("d"), scale=10**12).alias("q")
        ).collect()
    ]
    assert got2 == (10**12 * 9_300_000) // 17


def test_ewma_guard_fails_loudly_past_capacity(spark, tmp_path):
    """A fixture spanning more days than the dyadic closed form can
    carry exactly must FAIL (raise_error on the Spark side, error() in
    the oracle) instead of emitting wrapped garbage — the r9 ADVICE
    contract. 70 daily events > the 62-day word capacity."""
    import datetime

    import duckdb
    import pyarrow as pa
    import pytest

    rows = []
    base = datetime.datetime(2024, 1, 1)
    for d in range(70):
        rows.append(
            (
                d,
                base + datetime.timedelta(days=d),
                d % 7,
                "click",
                1.0,
                "{}",
            )
        )
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    qd = QUERIES["events_ewma_forecast_eval"]
    # ANSI on: the accumulator SUM itself overflows loudly before the
    # guard; ANSI off: the wrap is silent and the guard's raise_error
    # fires. Either way the contract holds — a loud failure, never
    # wrapped garbage.
    with pytest.raises(
        Exception, match="capacity exceeded|ARITHMETIC_OVERFLOW"
    ):
        qd.fn(spark, str(tmp_path)).collect()
    con = duckdb.connect()
    try:
        con.sql(
            f"CREATE VIEW events AS "
            f"SELECT * FROM '{tmp_path}/events.parquet'"
        )
        with pytest.raises(
            Exception, match="capacity exceeded|Overflow in left shift"
        ):
            con.sql(qd.oracle).fetchall()
    finally:
        con.close()
