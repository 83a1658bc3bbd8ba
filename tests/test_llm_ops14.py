"""Semantic pins for the round-10 llm_ops14 waves (SemDeDup scale
posture); the auto-parametrized oracle test covers hash parity."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sea_streamer_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _run(spark, name, sf=SF):
    return QUERIES[name].fn(spark, sf)


# ---------------------------------------------------------------- wave 1


def test_semantic_cells_for_formula():
    """semantic_cells_for = smallest power of two >= ceil(n/target_pop);
    the (k >= c and k//2 < c) membership predicate both query engines
    evaluate must agree with it for every n."""
    from sea_streamer_spark.operators.similarity import semantic_cells_for

    assert semantic_cells_for(500) == 16
    assert semantic_cells_for(2000) == 64
    assert semantic_cells_for(512) == 16
    assert semantic_cells_for(513) == 32
    assert semantic_cells_for(1) == 1
    assert semantic_cells_for(0) == 1
    for n in list(range(1, 300)) + [511, 512, 513, 10**6, 10**9]:
        k = semantic_cells_for(n)
        c = (n + 31) // 32
        assert k >= c and k // 2 < c, (n, k, c)
        # and it IS a power of two
        assert k & (k - 1) == 0


def test_exact_cosine_pairs_matches_jvm_fold(spark):
    """The blocked numpy tile sweep is BIT-IDENTICAL to the JVM
    zip_with/aggregate fold: same pairs at the same threshold, including
    any borderline cosines (the left-fold accumulation order is shared,
    so the doubles are equal, not merely close)."""
    from pyspark.sql import functions as F

    from sea_streamer_spark.operators import similarity as S
    from sea_streamer_spark.sources.tables import load_tables

    emb = load_tables(spark, SF, "embeddings").embeddings
    got = set(
        map(tuple, S.exact_cosine_pairs(emb, 0.45, block=128).collect())
    )
    a, b = emb.alias("a"), emb.alias("b")
    jvm = set(
        map(
            tuple,
            a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
            .filter(
                S.cosine(F.col("a.embedding"), F.col("b.embedding"))
                >= F.lit(0.45)
            )
            .select(F.col("a.vec_id"), F.col("b.vec_id"))
            .collect(),
        )
    )
    assert got == jvm and len(got) > 0


def test_exact_cosine_pairs_rejects_zero_norm(spark):
    """Zero-norm vectors make cosine NaN, and numpy (NaN >= t is False)
    disagrees with Spark/DuckDB (NaN sorts above every value) — the
    truth side must fail LOUDLY instead of silently diverging (r10
    ADVICE)."""
    import pytest

    from sea_streamer_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="zero-norm"):
        S.exact_cosine_pairs(emb, 0.5).collect()


def test_exact_cosine_pairs_row_cap(spark):
    """The driver-collect truth side refuses corpus-sized inputs with an
    error naming the documented block-keyed fallback (r10 VERDICT task
    #1 guard) — it can never be pointed at a big table silently."""
    import pytest

    from sea_streamer_spark.operators import similarity as S

    emb = spark.range(10).selectExpr(
        "id AS vec_id", "array(CAST(id AS DOUBLE) + 1.0, 2.0) AS embedding"
    )
    with pytest.raises(ValueError, match="block-keyed self-join"):
        S.exact_cosine_pairs(emb, 0.5, max_rows=5)


def test_cell_sweep_full_python_replay(spark):
    """Third-engine replay: truth pairs via the cos_py left fold, cell
    assignment via the same gate centroid literals and (sim, -cell)
    argmax, counts in pure python."""
    from sea_streamer_spark.operators.similarity import cos_py, dot_py
    from sea_streamer_spark.plans.fragments import gate_ivf_centroids

    t = pq.read_table(f"{SF}/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    vecs = [list(v) for v in t.column("embedding").to_pylist()]
    n = len(ids)
    import math

    nrm = [math.sqrt(dot_py(v, v)) for v in vecs]
    truth = set()
    order = sorted(range(n), key=lambda i: ids[i])
    for ii in range(n):
        i = order[ii]
        for jj in range(ii + 1, n):
            j = order[jj]
            if dot_py(vecs[i], vecs[j]) / (nrm[i] * nrm[j]) >= 0.45:
                truth.add((ids[i], ids[j]))
    got = {r["n_cells"]: r for r in _run(spark, "dedup_semantic_cell_sweep").collect()}
    assert set(got) == {4, 16, 64}
    for k, r in got.items():
        cents = gate_ivf_centroids(n_cells=k)
        cell = {}
        for i in range(n):
            best = max(
                ((dot_py(vecs[i], cv), -c) for c, cv in cents),
            )
            cell[ids[i]] = -best[1]
        pops: dict = {}
        for c in cell.values():
            pops[c] = pops.get(c, 0) + 1
        n_cand = sum(p * (p - 1) // 2 for p in pops.values())
        n_coloc = sum(1 for a, b in truth if cell[a] == cell[b])
        assert r["n_vectors"] == n
        assert r["n_true_pairs"] == len(truth)
        assert r["n_candidate_pairs"] == n_cand, k
        assert r["n_true_colocated"] == n_coloc, k
        assert r["recall_permille"] == (
            (1000 * n_coloc) // len(truth) if truth else 1000
        )
        assert r["candidate_share_permille"] == (1000 * n_cand) // (
            n * (n - 1) // 2
        )
        c = (n + 31) // 32
        assert r["recommended"] == (k >= c and k // 2 < c)
    # exactly one swept count is the formula's answer at this N
    assert sum(1 for r in got.values() if r["recommended"]) == 1


def test_scaled_cluster_equals_fixed_at_the_16_rung(spark):
    """At N=500 the formula resolves to the same 16-cell quantizer the
    fixed query pins, so the scaled operator must reproduce
    dedup_semantic_cluster row-for-row (plus the n_cells column)."""
    fixed = {
        r["vec_id"]: (r["cell"], r["cos_c_micro"], r["kept"])
        for r in _run(spark, "dedup_semantic_cluster").collect()
    }
    scaled = _run(spark, "dedup_semantic_cluster_scaled").collect()
    assert len(scaled) == len(fixed)
    for r in scaled:
        assert r["n_cells"] == 16
        assert fixed[r["vec_id"]] == (
            r["cell"],
            r["cos_c_micro"],
            r["kept"],
        )


def test_scaled_cluster_unbaked_rung_fails_loudly(spark, tmp_path):
    """A corpus size outside the baked rungs must raise on BOTH engines
    (ValueError at plan build / error() in the oracle) — never silently
    run the wrong granularity."""
    import duckdb
    import numpy as np

    n = 700  # semantic_cells_for(700) = 32: not a baked rung
    rng = [
        [((i * 37 + d * 11) % 97) / 97.0 for d in range(8)]
        for i in range(n)
    ]
    table = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(rng, pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(n)], pa.int32()),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))
    qd = QUERIES["dedup_semantic_cluster_scaled"]
    with pytest.raises(ValueError, match="unbaked"):
        qd.fn(spark, str(tmp_path))
    con = duckdb.connect()
    try:
        con.sql(
            f"CREATE VIEW embeddings AS "
            f"SELECT * FROM '{tmp_path}/embeddings.parquet'"
        )
        with pytest.raises(Exception, match="unbaked"):
            con.sql(qd.oracle).fetchall()
    finally:
        con.close()
    assert np is not None


def test_cell_sweep_volume_shrinks_with_cells(spark):
    """More cells must never increase candidate volume, and recall must
    never increase either (splitting only removes comparisons) — the
    monotone tradeoff the calibration table exists to expose."""
    rows = sorted(
        _run(spark, "dedup_semantic_cell_sweep").collect(),
        key=lambda r: r["n_cells"],
    )
    for a, b in zip(rows, rows[1:]):
        assert b["n_candidate_pairs"] <= a["n_candidate_pairs"]
        assert b["n_true_colocated"] <= a["n_true_colocated"]


# ---------------------------------------------------------------- wave 2


def test_pii_audit_full_python_replay(spark):
    """Third-engine replay with python's re module (a third regex
    implementation — Java on Spark, RE2 in DuckDB): same injection
    formula, same five patterns, same per-source rollup."""
    import re

    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text", "source"])
    from sea_streamer_spark.operators.pii import PII_PATTERNS

    pats = [(n, re.compile(p)) for n, p, _ in PII_PATTERNS]

    def inject(d, text):
        m = d % 7
        if m == 0:
            return f"{text} contact user{d}@example.org"
        if m == 1:
            return f"{text} call 555-{d * 7 % 1000:03d}-{d * 13 % 10000:04d}"
        if m == 2:
            return f"{text} from 10.{d % 256}.{d * 3 % 256}.{d * 7 % 256}"
        if m == 3:
            return f"{text} id {d % 1000:03d}-{d * 3 % 100:02d}-{d * 7 % 10000:04d}"
        if m == 4:
            return (
                f"{text} card {d % 10000:04d}-{d * 3 % 10000:04d}"
                f"-{d * 7 % 10000:04d}-{d * 11 % 10000:04d}"
            )
        return text

    agg: dict = {}
    for d, text, src in zip(
        t.column("doc_id").to_pylist(),
        t.column("text").to_pylist(),
        t.column("source").to_pylist(),
    ):
        inj = inject(d, text)
        a = agg.setdefault(
            src, {n: 0 for n, _ in pats} | {"docs": 0, "with": 0, "raw": 0}
        )
        a["docs"] += 1
        tot = 0
        for n, p in pats:
            c = len(p.findall(inj))
            a[n] += c
            tot += c
            a["raw"] += len(p.findall(text))
        if tot:
            a["with"] += 1
    got = {r["source"]: r for r in _run(spark, "privacy_pii_audit").collect()}
    assert set(got) == set(agg)
    for src, a in agg.items():
        r = got[src]
        assert r["n_docs"] == a["docs"]
        assert r["n_docs_with_pii"] == a["with"]
        assert r["n_emails"] == a["email"]
        assert r["n_phones"] == a["phone"]
        assert r["n_ipv4"] == a["ipv4"]
        assert r["n_ids"] == a["ssn"]
        assert r["n_cards"] == a["ccard"]
        assert r["n_raw_hits"] == a["raw"] == 0  # fixture carries no PII


def test_pii_redaction_removes_everything(spark):
    """post_hits is computed by re-running the detectors on the
    redacted text — it must be exactly 0 everywhere, with one
    placeholder per pre hit."""
    rows = _run(spark, "privacy_pii_redact_roundtrip").collect()
    assert rows and all(r["post_hits"] == 0 for r in rows)
    assert all(r["n_placeholders"] == r["pre_hits"] for r in rows)
    assert sum(r["pre_hits"] for r in rows) > 0


def test_pii_patterns_are_pairwise_disjoint():
    """The redaction chain's order-independence rests on the five
    patterns never overlapping — fuzz every injected shape against
    every pattern with python re."""
    import re

    from sea_streamer_spark.operators.pii import PII_PATTERNS

    samples = {
        "email": "user123@example.org",
        "phone": "555-042-9137",
        "ipv4": "10.3.77.201",
        "ssn": "123-45-6789",
        "ccard": "1234-5678-9012-3456",
    }
    for name, pat, _ in PII_PATTERNS:
        p = re.compile(pat)
        for sname, s in samples.items():
            hits = p.findall(f"pad {s} pad")
            if sname == name:
                assert hits == [s], (name, sname, hits)
            else:
                assert hits == [], (name, sname, hits)


# ---------------------------------------------------------------- wave 3/4


def _daily_counts():
    import datetime

    t = pq.read_table(
        "/root/testdata/sf0.001/events.parquet", columns=["ts", "event_type"]
    )
    per: dict = {}
    for ts, et in zip(
        t.column("ts").to_pylist(), t.column("event_type").to_pylist()
    ):
        per.setdefault(et, {}).setdefault(ts.date(), 0)
        per[et][ts.date()] += 1
    return {et: [c for _d, c in sorted(days.items())] for et, days in per.items()}


def _trunc_div(a, b):
    return abs(a) // b * (1 if a >= 0 else -1)


def test_theil_sen_full_python_replay(spark):
    got = {r["event_type"]: r for r in _run(spark, "events_theil_sen_trend").collect()}
    daily = _daily_counts()
    assert set(got) == set(daily)
    for et, cs in daily.items():
        n = len(cs)
        slopes = sorted(
            _trunc_div(1_000_000 * (cs[j] - cs[i]), j - i)
            for i in range(n)
            for j in range(i + 1, n)
        )
        r = got[et]
        assert r["n_days"] == n
        assert r["n_pairs"] == len(slopes)
        # lower median (rn = (np+1)//2, 1-indexed)
        assert r["slope_micro"] == slopes[(len(slopes) + 1) // 2 - 1], et


def test_theil_sen_lower_median_even_pairs():
    """The rank pick must be the LOWER median when the pair count is
    even — (np+1)/2 in float would select nothing (the round-10 bug this
    pin froze out)."""
    # pure-python statement of the contract the query uses
    for np_ in (2, 4, 10, 465, 466):
        rn = (np_ + 1) // 2
        assert 1 <= rn <= np_
        if np_ % 2 == 0:
            assert rn == np_ // 2  # lower of the two central ranks


def test_acf_full_python_replay(spark):
    got = {}
    for r in _run(spark, "events_acf_daily").collect():
        got[(r["event_type"], r["lag"])] = r
    daily = _daily_counts()
    for et, cs in daily.items():
        n = len(cs)
        s = sum(cs)
        dev = [n * c - s for c in cs]
        den = sum(d * d for d in dev)
        for lag in range(1, 8):
            num = sum(dev[i] * dev[i + lag] for i in range(n - lag))
            r = got[(et, lag)]
            assert r["n_days"] == n
            assert r["n_terms"] == n - lag
            assert r["acf_permille"] == _trunc_div(1000 * num, den), (et, lag)
    assert len(got) == len(daily) * 7


# ---------------------------------------------------------------- wave 5/6


def test_map_mrr_full_python_replay(spark):
    """Pure-python MAP@10/MRR@10 from the collected QL ranking and a
    python-recomputed relevance set."""
    got = _run(spark, "search_map_mrr_eval").collect()[0]
    from sea_streamer_spark.plans.search import search_query_likelihood_topk

    ranked = [
        r["doc_id"]
        for r in search_query_likelihood_topk(spark, SF).collect()
    ]
    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    toks = {
        d: set(w for w in (x or "").split() if w)
        for d, x in zip(
            t.column("doc_id").to_pylist(), t.column("text").to_pylist()
        )
    }
    q = toks[0]
    rel = {d for d, ws in toks.items() if d != 0 and ws & q}
    hits = [
        (i + 1) for i, d in enumerate(ranked[:10]) if d in rel
    ]
    ap_num = sum(
        1_000_000 * (j + 1) // rank for j, rank in enumerate(hits)
    )
    assert got["n_rel_corpus"] == len(rel)
    assert got["n_rel_topk"] == len(hits)
    assert got["mrr_micro"] == (1_000_000 // hits[0] if hits else 0)
    assert got["map_micro"] == (
        ap_num // min(len(rel), 10) if min(len(rel), 10) > 0 else 0
    )


def test_chi2_full_python_replay(spark):
    """Contingency + χ² recomputed in python over the same train split
    and gopher labels; the query's top-25 must match value-for-value."""
    from sea_streamer_spark.operators.quality import gopher_quality_flags

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    labels = {
        r["doc_id"]: r["passes"]
        for r in gopher_quality_flags(docs).select("doc_id", "passes").collect()
    }
    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    a_cnt: dict = {}
    b_cnt: dict = {}
    np_ = nf_ = 0
    for d, x in zip(
        t.column("doc_id").to_pylist(), t.column("text").to_pylist()
    ):
        if d % 2 != 0:
            continue
        if labels[d]:
            np_ += 1
        else:
            nf_ += 1
        for w in set(w for w in (x or "").split() if w):
            if labels[d]:
                a_cnt[w] = a_cnt.get(w, 0) + 1
                b_cnt.setdefault(w, 0)
            else:
                b_cnt[w] = b_cnt.get(w, 0) + 1
                a_cnt.setdefault(w, 0)
    n = np_ + nf_
    chi = {}
    for w in a_cnt:
        a, b = a_cnt[w], b_cnt[w]
        df = a + b
        if df >= n:
            continue
        diff = a * nf_ - b * np_
        chi[w] = (1_000_000 * n * diff * diff) // (
            df * (n - df) * np_ * nf_
        )
    top = sorted(chi.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
    got = _run(spark, "quality_chi2_feature_selection").collect()
    assert len(got) == 25
    for r, (w, c) in zip(got, top):
        assert r["term"] == w and r["chi2_micro"] == c, (r, w, c)
        assert r["n_pass_docs"] == a_cnt[w]
        assert r["n_fail_docs"] == b_cnt[w]


# ---------------------------------------------------------------- wave 7/8


def test_kaplan_meier_gaps_full_python_replay(spark):
    import math

    t = pq.read_table(
        "/root/testdata/sf0.001/events.parquet",
        columns=["ts", "event_id", "user_id"],
    )
    per: dict = {}
    horizon = 0
    for ts, eid, uid in zip(
        t.column("ts").to_pylist(),
        t.column("event_id").to_pylist(),
        t.column("user_id").to_pylist(),
    ):
        us = int(ts.timestamp() * 1_000_000)
        horizon = max(horizon, us)
        per.setdefault(uid, []).append((us, eid))
    durations = []
    for evs in per.values():
        evs.sort()
        for i, (us, _e) in enumerate(evs):
            if i + 1 < len(evs):
                durations.append((( evs[i + 1][0] - us) // 3_600_000_000, True))
            else:
                durations.append(((horizon - us) // 3_600_000_000, False))
    # risk set and events per distinct t
    times = sorted({t_ for t_, _o in durations})
    got = {r["t_hours"]: r for r in _run(spark, "events_kaplan_meier_gaps").collect()}
    logsum = 0
    sentinel_hit = False
    n_curve = 0
    for t_ in times:
        n_risk = sum(1 for d, _o in durations if d >= t_)
        d_t = sum(1 for d, o in durations if d == t_ and o)
        if d_t == 0:
            assert t_ not in got
            continue
        n_curve += 1
        if d_t < n_risk:
            logsum += round(math.log((n_risk - d_t) / n_risk) * 1_000_000)
        else:
            logsum += -(10**9)
            sentinel_hit = True
        r = got[t_]
        assert r["n_risk"] == n_risk and r["n_events"] == d_t, t_
        assert r["log_surv_micro"] == logsum, t_
        expect_surv = (
            0
            if logsum <= -(10**8)
            else round(math.exp(logsum / 1_000_000) * 1000)
        )
        assert r["surv_milli"] == expect_surv, t_
    assert n_curve == len(got) and n_curve > 10
    # survival is non-increasing
    rows = sorted(got.values(), key=lambda r: r["t_hours"])
    for a, b in zip(rows, rows[1:]):
        assert b["surv_milli"] <= a["surv_milli"]
    assert sentinel_hit or rows[-1]["surv_milli"] >= 0


def test_heaps_full_python_replay(spark):
    import math

    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    docs = sorted(
        zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
    )
    seen: set = set()
    tok_cum = v_cum = 0
    cum = []
    for _d, x in docs:
        ws = [w for w in (x or "").split() if w]
        tok_cum += len(ws)
        for w in ws:
            if w not in seen:
                seen.add(w)
                v_cum += 1
        cum.append((tok_cum, v_cum))
    n = len(docs)
    cps = sorted({(q * n) // 10 for q in range(1, 11)})
    pts = [
        (
            round(math.log(cum[r - 1][0]) * 1_000_000),
            round(math.log(cum[r - 1][1]) * 1_000_000),
        )
        for r in cps
        if r >= 1 and cum[r - 1][0] > 0 and cum[r - 1][1] > 0
    ]
    k = len(pts)
    sx = sum(x for x, _y in pts)
    sy = sum(y for _x, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _y in pts)
    beta = _trunc_div(1_000_000 * (k * sxy - sx * sy), k * sxx - sx * sx)
    r = _run(spark, "text_heaps_law_fit").collect()[0]
    assert r["n_checkpoints"] == k
    assert r["n_docs"] == n
    assert r["n_tokens_total"] == cum[cps[-1] - 1][0]
    assert r["vocab_total"] == cum[cps[-1] - 1][1]
    assert r["beta_micro"] == beta
    # sublinear growth: beta < 1e6 always; ON THIS FIXTURE the ~50-word
    # vocabulary saturates inside the first decile, so the fitted
    # exponent is exactly 0 — the honest answer for a closed-vocabulary
    # corpus (the operator is the deliverable, the corpus the fixture)
    assert 0 <= r["beta_micro"] < 1_000_000


# ------------------------------------------------------------ wave 9/10/11


def test_brier_ece_full_python_replay(spark):
    import math

    from sea_streamer_spark.plans.quality_calibration import nb_scored

    rows = nb_scored(spark, SF).collect()
    ps = []
    for r in rows:
        margin = r["score_pass"] - r["score_fail"]
        p = round(1_000_000 / (1 + math.exp(-margin / 1_000_000)))
        ps.append((p, 1_000_000 if r["truth"] else 0, r["truth"]))
    n = len(ps)
    brier = sum((p - y) * (p - y) for p, y, _t in ps) // (n * 1_000_000)
    bins: dict = {}
    for p, _y, t in ps:
        b = min(9, p * 10 // 1_000_000)
        e = bins.setdefault(b, [0, 0, 0])
        e[0] += 1
        e[1] += p
        e[2] += 1 if t else 0
    ece = sum(abs(sp - 1_000_000 * pos) for _nb, sp, pos in bins.values()) // n
    got = _run(spark, "quality_nb_brier_ece").collect()[0]
    assert got["n_docs"] == n
    assert got["brier_micro"] == brier
    assert got["ece_micro"] == ece


def test_pot_gpd_full_python_replay(spark):
    t = pq.read_table(
        "/root/testdata/sf0.001/events.parquet",
        columns=["event_type", "value"],
    )
    per: dict = {}
    for et, v in zip(
        t.column("event_type").to_pylist(), t.column("value").to_pylist()
    ):
        per.setdefault(et, []).append(round(v * 1_000_000))
    got = {r["event_type"]: r for r in _run(spark, "events_pot_tail_gpd").collect()}
    assert set(got) == set(per)
    for et, vs in per.items():
        vs.sort()
        n = len(vs)
        u = vs[(9 * n + 9) // 10 - 1]
        exc = [v - u for v in vs if v > u]
        ne = len(exc)
        se, se2 = sum(exc), sum(e * e for e in exc)
        m = se / ne
        s2 = (se2 - se * se / ne) / (ne - 1)
        r = got[et]
        assert r["n_values"] == n
        assert r["threshold_micro"] == u
        assert r["n_exceed"] == ne
        assert r["mean_excess_micro"] == se // ne
        assert r["xi_milli"] == round(500 * (1 - m * m / s2)), et
        assert r["sigma_micro"] == round(m * 0.5 * (m * m / s2 + 1)), et


def test_apportionment_quota_property(spark):
    """Sum of allocations equals the budget exactly, and every source is
    within one seat of its exact proportional share (Hamilton's quota
    guarantee) — checked against a python replay."""
    rows = _run(spark, "curation_sample_apportionment").collect()
    n_total = sum(r["n_docs"] for r in rows)
    assert sum(r["alloc"] for r in rows) == 100
    for r in rows:
        exact = 100 * r["n_docs"] / n_total
        assert exact - 1 < r["alloc"] < exact + 1
        assert r["alloc"] in (r["quota_floor"], r["quota_floor"] + 1)
    # python replay of the largest-remainder ranking
    quotas = sorted(
        ((100 * r["n_docs"]) % n_total, r["source"]) for r in rows
    )
    seats = 100 - sum((100 * r["n_docs"]) // n_total for r in rows)
    winners = {
        src
        for _rem, src in sorted(quotas, key=lambda t: (-t[0], t[1]))[:seats]
    }
    for r in rows:
        assert r["extra"] == (1 if r["source"] in winners else 0)


# ------------------------------------------------------------- wave 12/13


def test_binseg_full_python_replay(spark):
    got = {r["event_type"]: r for r in _run(spark, "events_changepoint_binseg").collect()}
    daily = _daily_counts()
    assert set(got) == set(daily)
    for et, cs in daily.items():
        n = len(cs)
        s = sum(cs)
        best = None
        p = 0
        for i in range(1, n):
            p += cs[i - 1]
            dnum = (n - i) * p - i * (s - p)
            gain = (dnum * dnum) // (i * (n - i))
            if best is None or gain > best[0]:
                best = (gain, i, p)
        gain, i, p = best
        r = got[et]
        assert r["n_days"] == n
        assert r["split_index"] == i, et
        assert r["gain_scaled"] == gain
        assert r["mean_left_micro"] == 1_000_000 * p // i
        assert r["mean_right_micro"] == 1_000_000 * (s - p) // (n - i)
        assert (
            r["delta_micro"]
            == r["mean_right_micro"] - r["mean_left_micro"]
        )


def test_linkpred_full_python_replay(spark):
    import math

    t = pq.read_table(
        "/root/testdata/sf0.001/lineitem.parquet",
        columns=["l_orderkey", "l_partkey"],
    )
    baskets: dict = {}
    for ok, pk in zip(
        t.column("l_orderkey").to_pylist(), t.column("l_partkey").to_pylist()
    ):
        baskets.setdefault(ok, []).append(pk)
    co: dict = {}
    for parts in baskets.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                if ps[i] < ps[j]:
                    co[(ps[i], ps[j])] = co.get((ps[i], ps[j]), 0) + 1
    edges = {p for p, c in co.items() if c >= 2}
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    deg = {u: len(vs) for u, vs in adj.items()}
    scores: dict = {}
    for w, nbrs in adj.items():
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                u, v = ns[i], ns[j]
                if (u, v) in edges:
                    continue
                e = scores.setdefault((u, v), [0, 0])
                e[0] += 1
                e[1] += round(1_000_000 / math.log(deg[w]))
    top = sorted(
        scores.items(), key=lambda kv: (-kv[1][1], kv[0][0], kv[0][1])
    )[:20]
    got = _run(spark, "graph_adamic_adar_linkpred").collect()
    assert len(got) == 20
    for r, ((u, v), (cn, aa)) in zip(got, top):
        assert (r["part_a"], r["part_b"]) == (u, v)
        assert r["n_common"] == cn
        assert r["aa_micro"] == aa
        expect_j = 1000 * cn // (deg[u] + deg[v] - cn)
        assert r["jaccard_permille"] == expect_j


# ------------------------------------------------------------- wave 14/15


def test_ltv_triangle_full_python_replay(spark):
    t = pq.read_table(
        f"{SF}/orders.parquet",
        columns=["o_custkey", "o_orderdate", "o_totalprice"],
    )
    firsts: dict = {}
    rows = list(
        zip(
            t.column("o_custkey").to_pylist(),
            t.column("o_orderdate").to_pylist(),
            t.column("o_totalprice").to_pylist(),
        )
    )
    for ck, d, _p in rows:
        y = d.year
        firsts[ck] = min(firsts.get(ck, y), y)
    sized: dict = {}
    for ck, cy in firsts.items():
        sized[cy] = sized.get(cy, 0) + 1
    cells: dict = {}
    for ck, d, p in rows:
        key = (firsts[ck], d.year - firsts[ck])
        e = cells.setdefault(key, [0, 0])
        e[0] += round(p * 100)
        e[1] += 1
    got = {
        (r["cohort_year"], r["age_years"]): r
        for r in _run(spark, "orders_ltv_triangle").collect()
    }
    assert set(got) == set(cells)
    for cy in sorted({c for c, _a in cells}):
        cum = 0
        for age in sorted(a for c, a in cells if c == cy):
            rev, n_ord = cells[(cy, age)]
            cum += rev
            r = got[(cy, age)]
            assert r["n_customers"] == sized[cy]
            assert r["n_orders"] == n_ord
            assert r["revenue_cents"] == rev
            assert r["cum_revenue_cents"] == cum
            assert r["cum_ltv_per_customer_cents"] == cum // sized[cy]


def test_lorenz_shares_monotone_and_complete(spark):
    rows = sorted(
        _run(spark, "events_lorenz_user_activity").collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    # ascending rank: every user in decile d+1 has count >= every user
    # in decile d, so the PER-USER mean is nondecreasing (sums need not
    # be — NTILE deciles are unequal-sized when n_users % 10 != 0, e.g.
    # 15 users at sf0.001); compare means exactly by cross-multiplying
    for a, b in zip(rows, rows[1:]):
        assert (
            b["n_events"] * a["n_users"] >= a["n_events"] * b["n_users"]
        )
        assert b["cum_share_permille"] >= a["cum_share_permille"]
    # the cumulative share ends at ~1000 (floor rounding can shave <1)
    assert 995 <= rows[-1]["cum_share_permille"] <= 1000
    total = sum(r["n_events"] for r in rows)
    assert rows[-1]["cum_share_permille"] == 1000 * total // total


# ------------------------------------------------------------- wave 16/17


def test_mcnemar_full_python_replay(spark):
    from sea_streamer_spark.plans.quality_calibration import nb_scored

    rows = nb_scored(spark, SF).collect()
    b = sum(
        1
        for r in rows
        if r["truth"] and not (r["score_pass"] >= r["score_fail"])
    )
    c = sum(
        1
        for r in rows
        if not r["truth"] and (r["score_pass"] >= r["score_fail"])
    )
    got = _run(spark, "quality_mcnemar_gates").collect()[0]
    assert got["n_docs"] == len(rows)
    assert got["n_rule_only"] == b
    assert got["n_nb_only"] == c
    expect = 0 if b + c == 0 else 1000 * (b - c) * (b - c) // (b + c)
    assert got["mcnemar_milli"] == expect
    assert (
        got["n_both_pass"] + got["n_both_fail"] + b + c == got["n_docs"]
    )


def test_runs_test_full_python_replay(spark):
    import math

    got = {r["event_type"]: r for r in _run(spark, "events_runs_test_daily").collect()}
    daily = _daily_counts()
    assert set(got) == set(daily)
    for et, cs in daily.items():
        n = len(cs)
        m = sorted(cs)[(n + 1) // 2 - 1]
        ups = [c > m for c in cs]
        r_runs = 1 + sum(1 for a, b in zip(ups, ups[1:]) if a != b)
        n1 = sum(ups)
        n2 = n - n1
        row = got[et]
        assert row["n_days"] == n
        assert row["n1"] == n1 and row["n2"] == n2
        assert row["n_runs"] == r_runs
        if n1 == 0 or n2 == 0:
            assert row["z_milli"] == 0
        else:
            e_r = 1 + 2 * n1 * n2 / n
            var = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
            assert row["z_milli"] == round(
                1000 * (r_runs - e_r) / math.sqrt(var)
            ), et


# ------------------------------------------------------------ wave 18-21


def test_mad_anomaly_full_python_replay(spark):
    got = {
        (r["event_type"], r["day"]): r
        for r in _run(spark, "events_anomaly_mad_days").collect()
    }
    daily_by_day: dict = {}
    t = pq.read_table(
        "/root/testdata/sf0.001/events.parquet", columns=["ts", "event_type"]
    )
    for ts, et in zip(
        t.column("ts").to_pylist(), t.column("event_type").to_pylist()
    ):
        daily_by_day.setdefault(et, {}).setdefault(str(ts.date()), 0)
        daily_by_day[et][str(ts.date())] += 1
    expect = {}
    for et, days in daily_by_day.items():
        cs = sorted(days.values())
        n = len(cs)
        m = cs[(n + 1) // 2 - 1]
        ads = sorted(abs(c - m) for c in days.values())
        mad = ads[(n + 1) // 2 - 1]
        for day, c in days.items():
            if 10000 * abs(c - m) > 44478 * mad:
                expect[(et, day)] = (c, m, mad)
    assert set(got) == set(expect)
    for k, (c, m, mad) in expect.items():
        r = got[k]
        assert (r["c"], r["median_c"], r["mad"]) == (c, m, mad)
        assert r["dev_e4"] == 10000 * abs(c - m)
        assert r["cutoff_e4"] == 44478 * mad


def test_sttr_full_python_replay(spark):
    got = {r["doc_id"]: r for r in _run(spark, "text_sttr_profile").collect()}
    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    for d, x in zip(
        t.column("doc_id").to_pylist(), t.column("text").to_pylist()
    ):
        ws = [w for w in (x or "").split() if w]
        n_full = len(ws) // 50
        if n_full == 0:
            assert d not in got
            continue
        s = sum(
            1000 * len(set(ws[i * 50 : (i + 1) * 50])) // 50
            for i in range(n_full)
        )
        r = got[d]
        assert r["n_chunks"] == n_full
        assert r["sttr_permille"] == s // n_full, d


def test_order_mad_full_python_replay(spark):
    o = pq.read_table(
        f"{SF}/orders.parquet",
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    )
    c = pq.read_table(
        f"{SF}/customer.parquet", columns=["c_custkey", "c_nationkey"]
    )
    nation = dict(
        zip(c.column("c_custkey").to_pylist(), c.column("c_nationkey").to_pylist())
    )
    per: dict = {}
    for ok, ck, p in zip(
        o.column("o_orderkey").to_pylist(),
        o.column("o_custkey").to_pylist(),
        o.column("o_totalprice").to_pylist(),
    ):
        per.setdefault(nation[ck], []).append((round(p * 100), ok))
    got = {r["nation"]: r for r in _run(spark, "agg_order_mad_by_nation").collect()}
    assert set(got) == set(per)
    for nat, vals in per.items():
        vals.sort()
        n = len(vals)
        m = vals[(n + 1) // 2 - 1][0]
        ads = sorted((abs(v - m), ok) for v, ok in vals)
        mad = ads[(n + 1) // 2 - 1][0]
        r = got[nat]
        assert r["n_orders"] == n
        assert r["median_cents"] == m
        assert r["mad_cents"] == mad
        assert r["mad_over_median_permille"] == (
            1000 * mad // m if m > 0 else 0
        )


def test_rank_tau_full_python_replay(spark):
    from sea_streamer_spark.plans.search import search_bm25_topk
    from sea_streamer_spark.plans.search import search_query_likelihood_topk

    ql = [r["doc_id"] for r in search_query_likelihood_topk(spark, SF).collect()]
    bm = [r["doc_id"] for r in search_bm25_topk(spark, SF).collect()]
    rq = {d: i + 1 for i, d in enumerate(ql)}
    rb = {d: i + 1 for i, d in enumerate(bm)}
    overlap = sorted(set(rq) & set(rb))
    c = d = 0
    for i in range(len(overlap)):
        for j in range(i + 1, len(overlap)):
            u, v = overlap[i], overlap[j]
            prod = (rq[u] - rq[v]) * (rb[u] - rb[v])
            if prod > 0:
                c += 1
            elif prod < 0:
                d += 1
    got = _run(spark, "search_rank_agreement_tau").collect()[0]
    assert got["n_overlap"] == len(overlap)
    assert got["n_concordant"] == c
    assert got["n_discordant"] == d
    total = len(overlap) * (len(overlap) - 1) // 2
    expect = _trunc_div(1000 * (c - d), total) if total else 0
    assert got["tau_milli"] == expect


# ------------------------------------------------------------ wave 22-24


def test_kappa_full_python_replay(spark):
    from sea_streamer_spark.plans.quality_calibration import nb_scored

    rows = nb_scored(spark, SF).collect()
    a = sum(1 for r in rows if r["truth"] and r["score_pass"] >= r["score_fail"])
    b = sum(1 for r in rows if r["truth"] and r["score_pass"] < r["score_fail"])
    c = sum(1 for r in rows if not r["truth"] and r["score_pass"] >= r["score_fail"])
    d = sum(1 for r in rows if not r["truth"] and r["score_pass"] < r["score_fail"])
    n = a + b + c + d
    x = (a + b) * (a + c) + (c + d) * (b + d)
    got = _run(spark, "quality_cohens_kappa_gates").collect()[0]
    assert got["n_docs"] == n
    assert got["raw_agreement_permille"] == 1000 * (a + d) // n
    expect = 0 if n * n - x == 0 else _trunc_div(1000 * (n * (a + d) - x), n * n - x)
    assert got["kappa_milli"] == expect
    # consistency with the McNemar wave's cells
    mc = _run(spark, "quality_mcnemar_gates").collect()[0]
    assert mc["n_both_pass"] == a and mc["n_both_fail"] == d
    assert mc["n_rule_only"] == b and mc["n_nb_only"] == c


def test_weekday_anova_full_python_replay(spark):
    t = pq.read_table(
        "/root/testdata/sf0.001/events.parquet", columns=["ts", "event_type"]
    )
    per: dict = {}
    for ts, et in zip(
        t.column("ts").to_pylist(), t.column("event_type").to_pylist()
    ):
        day = ts.date()
        # DuckDB/Spark dayofweek: Sunday=... both engines matched; mirror
        # with isoweekday mapped to the Sun=1..Sat=7 convention
        wd = day.isoweekday() % 7 + 1
        per.setdefault(et, {}).setdefault((day, wd), 0)
        per[et][(day, wd)] += 1
    got = {r["event_type"]: r for r in _run(spark, "events_weekday_anova").collect()}
    for et, days in per.items():
        n = len(days)
        s = sum(days.values())
        groups: dict = {}
        for (day, wd), cnt in days.items():
            groups.setdefault(wd, []).append(cnt)
        k = len(groups)
        ssb = sum(
            _trunc_div(
                (n * sum(cs) - len(cs) * s) ** 2, n * n * len(cs)
            )
            for cs in groups.values()
        )
        ssw = sum(
            _trunc_div((len(cs) * cv - sum(cs)) ** 2, len(cs) * len(cs))
            for cs in groups.values()
            for cv in cs
        )
        r = got[et]
        assert r["n_days"] == n and r["n_groups"] == k
        assert r["ssb_scaled"] == ssb, et
        assert r["ssw_scaled"] == ssw, et
        if ssw == 0 or k <= 1:
            assert r["f_milli"] == -1
        else:
            assert r["f_milli"] == round(
                1000 * (ssb / (k - 1)) / (ssw / (n - k))
            )


def test_discount_response_full_python_replay(spark):
    t = pq.read_table(
        f"{SF}/lineitem.parquet", columns=["l_discount", "l_quantity"]
    )
    lvl: dict = {}
    for disc, q in zip(
        t.column("l_discount").to_pylist(), t.column("l_quantity").to_pylist()
    ):
        key = round(disc * 1000)
        e = lvl.setdefault(key, [0, 0])
        e[0] += 1
        e[1] += round(q * 1_000_000)
    pts = {x: (n, qs // n) for x, (n, qs) in lvl.items()}
    k = len(pts)
    sx = sum(pts)
    sy = sum(y for _n, y in pts.values())
    sxy = sum(x * y for x, (_n, y) in pts.items())
    sxx = sum(x * x for x in pts)
    den = k * sxx - sx * sx
    slope = 0 if den == 0 else _trunc_div(1000 * (k * sxy - sx * sy), den)
    got = _run(spark, "lineitem_discount_response").collect()
    assert len(got) == k
    for r in got:
        n, y = pts[r["disc_permille"]]
        assert r["n_items"] == n and r["mean_qty_micro"] == y
        assert r["slope_milli_per_permille"] == slope


# ------------------------------------------------------------ wave 25/26


def test_user_gini_full_python_replay(spark):
    t = pq.read_table(
        "/root/testdata/sf0.001/events.parquet", columns=["user_id"]
    )
    counts: dict = {}
    for u in t.column("user_id").to_pylist():
        counts[u] = counts.get(u, 0) + 1
    xs = [x for _u, x in sorted(counts.items(), key=lambda kv: (kv[1], kv[0]))]
    n, s = len(xs), sum(xs)
    six = sum((i + 1) * x for i, x in enumerate(xs))
    expect = _trunc_div(1000 * (2 * six - (n + 1) * s), n * s)
    got = _run(spark, "events_gini_user_activity").collect()[0]
    assert got["n_users"] == n and got["n_events"] == s
    assert got["gini_milli"] == expect
    # gini and the Lorenz deciles describe the same distribution:
    # both bounded [0, 1000), and a nonzero gini implies the top decile
    # holds more than 10% of volume
    assert 0 <= got["gini_milli"] < 1000


def test_youden_full_python_replay(spark):
    from sea_streamer_spark.plans.quality_calibration import nb_scored

    rows = nb_scored(spark, SF).collect()
    margins = sorted(
        {r["score_pass"] - r["score_fail"] for r in rows}, reverse=True
    )
    p = sum(1 for r in rows if r["truth"])
    neg = len(rows) - p
    best = None
    for m in margins:
        tp = sum(
            1
            for r in rows
            if r["truth"] and r["score_pass"] - r["score_fail"] >= m
        )
        fp = sum(
            1
            for r in rows
            if not r["truth"] and r["score_pass"] - r["score_fail"] >= m
        )
        j = 1000 * tp // p + 1000 * (neg - fp) // neg - 1000
        if best is None or (j, -m) > (best[0], -best[1]):
            best = (j, m, tp, fp)
    j, m, tp, fp = best
    got = _run(spark, "quality_youden_threshold").collect()[0]
    assert got["n_docs"] == len(rows)
    assert got["best_margin_cutoff"] == m
    assert got["tp"] == tp and got["fp"] == fp
    assert got["j_milli"] == j
    assert got["tpr_permille"] == 1000 * tp // p
    assert got["fpr_permille"] == 1000 * fp // neg


def test_aa_pairs_basket_expansion_matches_self_join(spark):
    """r13: the co-purchase pair build is a basket expansion, not a
    lineitem self-join — the co MULTIPLICITY must match the join exactly,
    including duplicate partkeys within one order (mult(pa)·mult(pb))."""
    from pyspark.sql import functions as F

    rows = [
        (1, 10), (1, 11), (1, 11), (1, 12),  # dup partkey 11 in order 1
        (2, 10), (2, 12),
        (3, 11), (3, 11),  # only equal pair -> excluded
        (4, 13),
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    a0, b0 = li.alias("a0"), li.alias("b0")
    want = (
        a0.join(
            b0,
            (F.col("b0.l_orderkey") == F.col("a0.l_orderkey"))
            & (F.col("a0.l_partkey") < F.col("b0.l_partkey")),
        )
        .groupBy(
            F.col("a0.l_partkey").alias("pa"),
            F.col("b0.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("co"))
        .collect()
    )
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
    got = (
        bk.select(F.explode(pair_arr).alias("p"))
        .filter(F.col("p.pa") < F.col("p.pb"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("co"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
