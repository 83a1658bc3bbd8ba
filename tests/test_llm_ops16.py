"""Semantic pins for the round-12 llm_ops16 waves; the auto-parametrized
oracle test covers hash parity, tests/test_streaming_curation.py covers
wave 1 (the streaming e2e)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from sea_streamer_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _run(spark, name, sf=SF):
    return QUERIES[name].fn(spark, sf)


def _rank2(values):
    """value -> doubled average rank (2·avgrank), the integer tie
    convention every rank wave uses."""
    s = sorted(values)
    first = {}
    for i, v in enumerate(s):
        first.setdefault(v, i + 1)
    from collections import Counter

    cnt = Counter(s)
    return {v: 2 * first[v] + cnt[v] - 1 for v in cnt}


# ---------------------------------------------------------------- wave 2


def test_auc_full_python_replay(spark):
    """AUC replayed from the NB score relation via the rank-sum
    identity; the margin relation is the SAME one the MCC/kappa family
    summarizes, pinned by matching n."""
    from sea_streamer_spark.plans.quality_calibration import nb_scored

    rows = nb_scored(spark, SF).collect()
    margins = [r["score_pass"] - r["score_fail"] for r in rows]
    r2 = _rank2(margins)
    np_ = sum(1 for r in rows if r["truth"])
    nn = len(rows) - np_
    r2p = sum(
        r2[r["score_pass"] - r["score_fail"]] for r in rows if r["truth"]
    )
    got = _run(spark, "quality_auc_nb_gate").collect()[0]
    assert got["n_pos"] == np_ and got["n_neg"] == nn
    auc = 1_000_000 * (r2p - np_ * (np_ + 1)) // (2 * np_ * nn)
    assert got["auc_micro"] == auc
    assert got["gini_micro"] == 2 * auc - 1_000_000
    mcc = _run(spark, "quality_mcc_gates").collect()[0]
    assert mcc["n_docs"] == np_ + nn  # same single-sourced relation


# ---------------------------------------------------------------- wave 3


def test_mannwhitney_full_python_replay(spark):
    from sea_streamer_spark.sources.tables import load_tables

    orders = load_tables(spark, SF, "orders").orders.collect()
    import datetime
    from decimal import Decimal

    vals = []
    for r in orders:
        d = r["o_orderdate"]
        if isinstance(d, datetime.datetime):
            d = d.date()
        weekend = d.isoweekday() in (6, 7)
        cents = int(Decimal(str(r["o_totalprice"])) * 100)
        vals.append((weekend, cents))
    r2 = _rank2([c for _, c in vals])
    n1 = sum(1 for w, _ in vals if w)
    n2 = len(vals) - n1
    r2w = sum(r2[c] for w, c in vals if w)
    u2 = r2w - n1 * (n1 + 1)
    got = _run(spark, "orders_mannwhitney_weekend").collect()[0]
    assert got["n_weekend"] == n1 and got["n_weekday"] == n2
    assert got["u_weekend"] == u2 // 2
    assert got["auc_micro"] == 1_000_000 * u2 // (2 * n1 * n2)
    delta = u2 - n1 * n2
    q, rem = divmod(abs(1000 * delta), n1 * n2)
    expect = q if delta >= 0 else -q
    assert got["cliffs_delta_milli"] == expect


# ---------------------------------------------------------------- wave 4


def test_kruskal_wallis_full_python_replay(spark):
    from collections import Counter

    from sea_streamer_spark.sources.tables import load_tables

    ev = load_tables(spark, SF, "events").events.collect()
    days = Counter()
    for r in ev:
        days[r["ts"].date()] += 1
    counts = list(days.values())
    r2 = _rank2(counts)
    groups: dict = {}
    for d, c in days.items():
        wd = d.isoweekday() % 7 + 1  # Spark dayofweek: 1=Sunday
        groups.setdefault(wd, []).append(c)
    n = len(counts)
    s_micro = sum(
        1_000_000 * sum(r2[c] for c in g) ** 2 // (4 * len(g))
        for g in groups.values()
    )
    t3 = sum(c**3 - c for c in Counter(counts).values())
    h = (
        12.0 * (s_micro / 1_000_000.0) / (n * (n + 1.0)) - 3.0 * (n + 1.0)
    ) / (1.0 - t3 / (float(n) * n * n - n))
    got = _run(spark, "events_kruskal_wallis_weekday").collect()[0]
    assert got["n_days"] == n
    assert got["n_groups"] == len(groups)
    assert got["tie_correction_t3"] == t3
    assert got["h_milli"] == math.floor(1000.0 * h + 0.5)
    assert 0 <= got["h_milli"] < 1000 * n  # sanity scale


# ---------------------------------------------------------------- wave 5


def test_session_bigrams_full_python_replay(spark):
    from collections import Counter

    from sea_streamer_spark.sources.tables import load_tables

    ev = sorted(
        load_tables(spark, SF, "events").events.collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    trans = Counter()
    prev = {}
    for r in ev:
        u = r["user_id"]
        if u in prev and (r["ts"] - prev[u][0]).total_seconds() <= 1800:
            trans[(prev[u][1], r["event_type"])] += 1
        prev[u] = (r["ts"], r["event_type"])
    total = sum(trans.values())
    nf = Counter()
    nt = Counter()
    for (a, b), c in trans.items():
        nf[a] += c
        nt[b] += c
    expected = sorted(
        (
            (-c, a, b, 1000 * c // nf[a], 1_000_000 * c * total // (nf[a] * nt[b]))
            for (a, b), c in trans.items()
        )
    )[:25]
    got = _run(spark, "events_session_bigrams").collect()
    assert len(got) == min(25, len(trans))
    for row, (negc, a, b, conf, lift) in zip(got, expected):
        assert (row["et_from"], row["et_to"], row["support"]) == (a, b, -negc)
        assert row["confidence_milli"] == conf
        assert row["lift_micro"] == lift


# ---------------------------------------------------------------- wave 6


def test_temperature_mixture_full_python_replay(spark):
    from sea_streamer_spark.sources.tables import load_tables

    docs = load_tables(spark, SF, "documents").documents.collect()
    from collections import Counter

    per = Counter(r["source"] for r in docs)
    w1 = dict(per)
    w05 = {s: math.floor(1e6 * math.sqrt(n) + 0.5) for s, n in per.items()}
    w025 = {
        s: math.floor(1e6 * math.sqrt(math.sqrt(n)) + 0.5)
        for s, n in per.items()
    }
    got = {r["source"]: r for r in _run(spark, "curation_temperature_mixture").collect()}
    assert set(got) == set(per)
    for s in per:
        r = got[s]
        assert r["n_docs"] == per[s]
        assert r["share_prop_micro"] == 1_000_000 * w1[s] // sum(w1.values())
        assert r["share_t05_micro"] == 1_000_000 * w05[s] // sum(w05.values())
        assert (
            r["share_t025_micro"] == 1_000_000 * w025[s] // sum(w025.values())
        )
    # flattening direction: lower temperature compresses the share range
    for lo, hi in (("share_t025_micro", "share_t05_micro"),
                   ("share_t05_micro", "share_prop_micro")):
        span_lo = max(r[lo] for r in got.values()) - min(
            r[lo] for r in got.values()
        )
        span_hi = max(r[hi] for r in got.values()) - min(
            r[hi] for r in got.values()
        )
        assert span_lo <= span_hi


# ---------------------------------------------------------------- wave 7


def test_label_propagation_full_python_replay(spark):
    from collections import Counter

    from tests.test_llm_ops15 import _copurchase_graph

    _edges, adj = _copurchase_graph(spark, SF)
    labels = {u: u for u in adj}
    for _ in range(8):
        nxt = {}
        for u in adj:
            c = Counter(labels[v] for v in adj[u])
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[u] = best[0]
        labels = nxt
    sizes = Counter(labels.values())
    expected = sorted(((-n, lab) for lab, n in sizes.items()))[:10]
    got = _run(spark, "graph_label_propagation").collect()
    assert len(got) == min(10, len(sizes))
    for rk, (row, (negn, lab)) in enumerate(zip(got, expected), start=1):
        assert row["rank"] == rk
        assert (row["community"], row["size"]) == (lab, -negn)


# ---------------------------------------------------------------- wave 8


def test_km_full_python_replay(spark):
    from sea_streamer_spark.sources.tables import load_tables

    orders = load_tables(spark, SF, "orders").orders.collect()
    by_cust: dict = {}
    for r in orders:
        by_cust.setdefault(r["o_custkey"], []).append(
            (r["o_orderdate"], r["o_orderkey"])
        )
    end = max(r["o_orderdate"] for r in orders)

    def mdiff(a, b):
        return (a.year - b.year) * 12 + a.month - b.month

    subj = []
    for os_ in by_cust.values():
        os_.sort()
        first = os_[0][0]
        if len(os_) >= 2:
            subj.append((mdiff(os_[1][0], first), True))
        else:
            subj.append((mdiff(end, first), False))
    from collections import Counter

    events = Counter(t for t, e in subj if e)
    rows = []
    surv = 1_000_000
    for m in sorted(events):
        risk = sum(1 for t, _ in subj if t >= m)
        d = events[m]
        f = 1_000_000 * (risk - d) // risk
        surv = surv * f // 1_000_000
        rows.append((m, risk, d, surv))
    got = _run(spark, "orders_km_repurchase").collect()
    assert [
        (r["month_no"], r["n_risk"], r["n_events"], r["surv_micro"])
        for r in got
    ] == rows
    # survival is monotone nonincreasing and starts below 1e6
    sv = [r["surv_micro"] for r in got]
    assert all(a >= b for a, b in zip(sv, sv[1:]))


# ---------------------------------------------------------------- wave 9


def test_cusum_full_python_replay(spark):
    from collections import Counter

    from sea_streamer_spark.sources.tables import load_tables

    orders = load_tables(spark, SF, "orders").orders.collect()
    monthly = Counter(r["o_orderdate"].strftime("%Y-%m") for r in orders)
    months = sorted(monthly)
    tot, nm = sum(monthly.values()), len(months)
    mu = 1_000_000 * tot // nm
    k = mu // 10
    s = 0
    expect = []
    for m in months:
        s = max(0, s + 1_000_000 * monthly[m] - mu - k)
        expect.append((m, monthly[m], s, s > 4 * k))
    got = _run(spark, "orders_cusum_monthly").collect()
    assert [
        (r["month"], r["n_orders"], r["s_micro"], r["alarm"]) for r in got
    ] == expect


# ---------------------------------------------------------------- wave 10


def test_hits_full_python_replay(spark):
    from collections import Counter

    from sea_streamer_spark.sources.tables import load_tables

    t = load_tables(
        spark, SF, "lineitem", "supplier", "orders", "customer", "nation"
    )
    snat = {r["s_suppkey"]: r["s_nationkey"] for r in t.supplier.collect()}
    cnat = {r["c_custkey"]: r["c_nationkey"] for r in t.customer.collect()}
    ocust = {r["o_orderkey"]: r["o_custkey"] for r in t.orders.collect()}
    w = Counter()
    for r in t.lineitem.select("l_orderkey", "l_suppkey").collect():
        w[(snat[r["l_suppkey"]], cnat[ocust[r["l_orderkey"]]])] += 1
    hubs = {u: 1_000_000 for u in {u for u, _ in w}}
    auth = {}
    for _ in range(8):
        auth = Counter()
        for (u, v), c in w.items():
            auth[v] += c * hubs[u]
        ta = sum(auth.values())
        auth = {v: 1_000_000 * a // ta for v, a in auth.items()}
        hubs = Counter()
        for (u, v), c in w.items():
            hubs[u] += c * auth[v]
        th = sum(hubs.values())
        hubs = {u: 1_000_000 * h // th for u, h in hubs.items()}
    names = {r["n_nationkey"]: r["n_name"] for r in t.nation.collect()}
    got = _run(spark, "graph_hits_nations").collect()
    assert len(got) == len(set(hubs) | set(auth))
    for r in got:
        key = next(k for k, v in names.items() if v == r["nation"])
        assert r["hub_micro"] == hubs.get(key, 0)
        assert r["auth_micro"] == auth.get(key, 0)
    # normalization: each score vector sums to ~1e6 (idiv truncation)
    assert 1_000_000 - 25 <= sum(r["hub_micro"] for r in got) <= 1_000_000
    assert 1_000_000 - 25 <= sum(r["auth_micro"] for r in got) <= 1_000_000


# ---------------------------------------------------------------- wave 11


def test_pr_curve_full_python_replay(spark):
    from sea_streamer_spark.plans.quality_calibration import nb_scored

    rows = nb_scored(spark, SF).collect()
    ranked = sorted(
        rows,
        key=lambda r: (-(r["score_pass"] - r["score_fail"]), r["doc_id"]),
    )
    n = len(ranked)
    p = sum(1 for r in ranked if r["truth"])
    got = _run(spark, "quality_pr_curve_nb_gate").collect()
    assert [r["decile"] for r in got] == list(range(1, 11))
    for row in got:
        k = n * row["decile"] // 10
        tp = sum(1 for r in ranked[:k] if r["truth"])
        assert row["n_predicted"] == k
        assert row["n_tp"] == tp
        assert row["precision_milli"] == 1000 * tp // k
        assert row["recall_milli"] == 1000 * tp // p
        pr, rc = 1000 * tp // k, 1000 * tp // p
        assert row["f1_milli"] == (
            0 if pr + rc == 0 else 2 * pr * rc // (pr + rc)
        )
    # recall is monotone nondecreasing in coverage; decile 10 has R=1
    rs = [r["recall_milli"] for r in got]
    assert rs == sorted(rs) and rs[-1] == 1000


# ---------------------------------------------------------------- wave 12


def test_jaccard_linkpred_full_python_replay(spark):
    from collections import Counter

    from tests.test_llm_ops15 import _copurchase_graph

    edges, adj = _copurchase_graph(spark, SF)
    scores = []
    seen = set()
    for w, nbrs in adj.items():
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                u, v = ns[i], ns[j]
                if (u, v) in edges or (u, v) in seen:
                    continue
                seen.add((u, v))
                c = len(adj[u] & adj[v])
                uni = len(adj[u]) + len(adj[v]) - c
                scores.append((-(1000 * c // uni), u, v, c, uni))
    expected = sorted(scores)[:20]
    got = _run(spark, "graph_jaccard_linkpred").collect()
    assert len(got) == min(20, len(scores))
    for row, (negj, u, v, c, uni) in zip(got, expected):
        assert (row["u"], row["v"]) == (u, v)
        assert row["n_common"] == c
        assert row["n_union"] == uni
        assert row["jaccard_milli"] == -negj


# ---------------------------------------------------------------- wave 13


def test_atkinson_full_python_replay(spark):
    from decimal import Decimal

    from sea_streamer_spark.sources.tables import load_tables

    t = load_tables(spark, SF, "orders", "customer", "nation")
    nat = {r["n_nationkey"]: r["n_name"] for r in t.nation.collect()}
    cnat = {r["c_custkey"]: r["c_nationkey"] for r in t.customer.collect()}
    per: dict = {}
    for r in t.orders.collect():
        cents = int(Decimal(str(r["o_totalprice"])) * 100)
        per.setdefault(nat[cnat[r["o_custkey"]]], []).append(cents)
    got = {r["nation"]: r for r in _run(spark, "agg_atkinson_by_nation").collect()}
    assert set(got) == set(per)
    for nation, xs in per.items():
        n, total = len(xs), sum(xs)
        s = sum(math.floor(1e6 * math.sqrt(x)) for x in xs)
        a = 1.0 - (s / n) * (s / n) / 1e12 / (total / n)
        r = got[nation]
        assert r["n_orders"] == n
        assert r["atkinson_milli"] == math.floor(1000.0 * a + 0.5)
        assert 0 <= r["atkinson_milli"] <= 1000


# ---------------------------------------------------------------- wave 14


def test_holt_full_python_replay(spark):
    from collections import Counter

    from sea_streamer_spark.sources.tables import load_tables

    orders = load_tables(spark, SF, "orders").orders.collect()
    monthly = Counter(r["o_orderdate"].strftime("%Y-%m") for r in orders)
    months = sorted(monthly)

    def t4(p):
        q, _ = divmod(abs(p), 4)
        return q if p >= 0 else -q

    l, b = 1_000_000 * monthly[months[0]], 0
    expect = [(months[0], monthly[months[0]], l, b, l + b)]
    for m in months[1:]:
        ln = t4(1_000_000 * monthly[m] + 3 * (l + b))
        b = t4(ln - l + 3 * b)
        l = ln
        expect.append((m, monthly[m], l, b, l + b))
    got = _run(spark, "orders_holt_trend").collect()
    assert [
        (
            r["month"],
            r["n_orders"],
            r["level_micro"],
            r["trend_micro"],
            r["forecast_next_micro"],
        )
        for r in got
    ] == expect


# ---------------------------------------------------------------- wave 15


def test_resource_allocation_full_python_replay(spark):
    from tests.test_llm_ops15 import _copurchase_graph

    edges, adj = _copurchase_graph(spark, SF)
    scores = []
    seen = set()
    for w, nbrs in adj.items():
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                u, v = ns[i], ns[j]
                if (u, v) in edges or (u, v) in seen:
                    continue
                seen.add((u, v))
                common = adj[u] & adj[v]
                ra = sum(1_000_000 // len(adj[w2]) for w2 in common)
                scores.append((-ra, u, v, len(common)))
    expected = sorted(scores)[:20]
    got = _run(spark, "graph_resource_allocation_linkpred").collect()
    assert len(got) == min(20, len(scores))
    for row, (negra, u, v, c) in zip(got, expected):
        assert (row["u"], row["v"], row["n_common"], row["ra_micro"]) == (
            u,
            v,
            c,
            -negra,
        )


# ---------------------------------------------------------------- wave 16


def test_entropy_rate_full_python_replay(spark):
    """Entropy rate replayed from the two registered rows it
    single-sources (stationary π and the transition matrix)."""
    pi = {
        r["state"]: r["stationary_micro"]
        for r in _run(spark, "events_markov_stationary").collect()
    }
    tm = _run(spark, "events_transition_matrix").collect()
    rowt: dict = {}
    for r in tm:
        rowt[r["prev_type"]] = rowt.get(r["prev_type"], 0) + r["n"]
    h = 0
    for r in tm:
        p = 1_000_000 * r["n"] // rowt[r["prev_type"]]
        if p > 0:
            h += math.floor(
                1e9
                * (pi[r["prev_type"]] / 1e6)
                * (p / 1e6)
                * (-math.log(p / 1e6))
                + 0.5
            )
    k = len(pi)
    hmax = math.floor(1e9 * math.log(k) + 0.5)
    got = _run(spark, "events_markov_entropy_rate").collect()[0]
    assert got["n_states"] == k
    assert got["entropy_rate_nano"] == h
    assert got["max_entropy_nano"] == hmax
    assert got["efficiency_milli"] == 1000 * h // hmax
    assert 0 < got["entropy_rate_nano"] <= hmax  # chain is not uniform-iid


# ---------------------------------------------------------------- wave 17


def test_welch_full_python_replay(spark):
    from collections import Counter

    from sea_streamer_spark.sources.tables import load_tables

    ev = load_tables(spark, SF, "events").events.collect()
    days = Counter()
    for r in ev:
        days[r["ts"].date()] += 1
    g1 = [c for d, c in days.items() if d.isoweekday() in (6, 7)]
    g2 = [c for d, c in days.items() if d.isoweekday() not in (6, 7)]
    n1, s1, q1 = len(g1), sum(g1), sum(x * x for x in g1)
    n2, s2, q2 = len(g2), sum(g2), sum(x * x for x in g2)
    se1 = (q1 - s1 * s1 / n1) / (n1 - 1) / n1
    se2 = (q2 - s2 * s2 / n2) / (n2 - 1) / n2
    md = s1 / n1 - s2 / n2
    t = md / math.sqrt(se1 + se2)
    df = (se1 + se2) ** 2 / (se1**2 / (n1 - 1) + se2**2 / (n2 - 1))
    got = _run(spark, "events_welch_ttest_weekend").collect()[0]
    assert (got["n_weekend"], got["n_weekday"]) == (n1, n2)
    assert got["mean_diff_milli"] == math.floor(1000.0 * md + 0.5)
    assert got["t_milli"] == math.floor(1000.0 * t + 0.5)
    assert got["welch_df_milli"] == math.floor(1000.0 * df + 0.5)
    # df is bounded by the pooled df
    assert got["welch_df_milli"] <= 1000 * (n1 + n2 - 2)


# ---------------------------------------------------------------- wave 18


def test_ks_gate_full_python_replay(spark):
    from sea_streamer_spark.plans.quality_calibration import nb_scored

    rows = nb_scored(spark, SF).collect()
    np_ = sum(1 for r in rows if r["truth"])
    nn = len(rows) - np_
    by_m: dict = {}
    for r in rows:
        m = r["score_pass"] - r["score_fail"]
        cp, cn = by_m.get(m, (0, 0))
        by_m[m] = (cp + (1 if r["truth"] else 0), cn + (0 if r["truth"] else 1))
    cp = cn = 0
    best, arg = -1, None
    for m in sorted(by_m):
        dp, dn = by_m[m]
        cp += dp
        cn += dn
        gap = abs(cp * nn - cn * np_)
        if gap > best:
            best, arg = gap, m
    got = _run(spark, "quality_ks_gate_separation").collect()[0]
    assert (got["n_pos"], got["n_neg"]) == (np_, nn)
    assert got["gap_num"] == best
    assert got["ks_d_milli"] == 1000 * best // (np_ * nn)
    assert got["argmax_margin"] == arg
    # a gate with any signal separates: D > 0
    assert got["ks_d_milli"] > 0
