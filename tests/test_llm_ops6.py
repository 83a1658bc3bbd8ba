"""Pins for the round-3 official wave (plans/llm_ops6.py): HTML boilerplate
extraction, URL normalization + domain stats, corpus line-level dedup.

The oracle sweep (test_oracle_queries.py) already hash-compares each query
against DuckDB; these tests pin the SEMANTIC invariants the hash alone
doesn't explain — and, for line-dedup, full parity with an independent
pure-python reference."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from sea_streamer_spark.plans.span_dedup import (
    _BOILERPLATE,
    _LINE_FREQ_CUT,
    _LINE_W,
    text_line_dedup,
)
from sea_streamer_spark.plans.text import text_html_extract, web_url_stats


class TestHtmlExtract:
    def test_clean_text_has_no_markup_and_entities_decoded(self, spark, sf_dir):
        # Re-derive clean text (the registered query only ships its md5).
        from sea_streamer_spark.plans.text import _html_synth_spark, html_extract_text
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        rows = (
            docs.select(
                "doc_id",
                html_extract_text(
                    _html_synth_spark(F.col("doc_id"), F.col("text"))
                ).alias("clean"),
            )
            .orderBy("doc_id")
            .limit(50)
            .collect()
        )
        assert rows
        for r in rows:
            c = r["clean"]
            # tags stripped, script/style bodies gone
            assert "<script" not in c and "track(" not in c
            assert "color: #fff" not in c
            assert "<p>" not in c and "</body>" not in c
            # entities decoded exactly once
            assert '& more <escaped> "q" \'s\'' in c
            assert "&amp;" not in c and "&lt;" not in c

    def test_link_count_matches_synthesis(self, spark, sf_dir):
        rows = text_html_extract(spark, sf_dir).limit(100).collect()
        for r in rows:
            assert r["n_links"] == r["doc_id"] % 4
            assert 0 < r["markup_permille"] < 1000


class TestUrlStats:
    def test_normalization_contract(self, spark, sf_dir):
        rows = web_url_stats(spark, sf_dir).collect()
        domains = {r["domain"] for r in rows}
        # two-level-suffix rule: co.uk host yields example.co.uk, never co.uk
        assert "example.co.uk" in domains
        assert "co.uk" not in domains
        assert "example.com" in domains
        for r in rows:
            u = r["sample_url"]
            assert "utm_" not in u, u  # tracking params stripped
            assert "#" not in u, u  # fragment dropped
            assert ":443" not in u and ":80" not in u, u  # default ports
            assert u.startswith(("http://", "https://")), u  # lowercased
            assert not u.endswith("?"), u  # no dangling separator
            assert r["n_unique_urls"] <= r["n_urls"]

    def test_total_urls_is_corpus_size(self, spark, sf_dir):
        rows = web_url_stats(spark, sf_dir).collect()
        from sea_streamer_spark.sources.tables import load_tables

        n_docs = load_tables(spark, sf_dir, "documents").documents.count()
        assert sum(r["n_urls"] for r in rows) == n_docs


def _py_line_dedup(texts: dict[int, str]):
    """Independent reference: same re-lining + corpus-frequency rule."""
    lines_by_doc: dict[int, list[str]] = {}
    freq: dict[str, int] = {}
    for doc_id, text in texts.items():
        tk = [t for t in (_BOILERPLATE + " " + text).split() if t]
        n_lines = (len(tk) + _LINE_W - 1) // _LINE_W
        ls = [
            " ".join(tk[i * _LINE_W : i * _LINE_W + _LINE_W])
            for i in range(n_lines)
        ]
        lines_by_doc[doc_id] = ls
        for l in ls:
            freq[l] = freq.get(l, 0) + 1
    out = {}
    for doc_id, ls in lines_by_doc.items():
        kept = [l for l in ls if freq[l] < _LINE_FREQ_CUT]
        fp = hashlib.md5("\n".join(kept).encode()).hexdigest()
        out[doc_id] = (len(ls), len(kept), fp)
    return out


class TestLineDedup:
    def test_matches_pure_python_reference(self, spark, sf_dir):
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}
        ref = _py_line_dedup(texts)
        rows = text_line_dedup(spark, sf_dir).collect()
        assert len(rows) == len(ref)
        for r in rows:
            n_lines, n_kept, fp = ref[r["doc_id"]]
            assert (r["n_lines"], r["n_kept"], r["kept_fp"]) == (
                n_lines,
                n_kept,
                fp,
            ), r["doc_id"]

    def test_boilerplate_line_always_removed(self, spark, sf_dir):
        rows = text_line_dedup(spark, sf_dir).collect()
        # line 0 of every doc is the shared boilerplate sentence -> its
        # corpus frequency is n_docs >= cut, so every doc loses >= 1 line.
        for r in rows:
            assert r["n_kept"] < r["n_lines"], r


class TestCdcMergeUpsert:
    def test_action_provenance(self, spark, sf_dir):
        from sea_streamer_spark.plans.curation import cdc_merge_upsert

        rows = cdc_merge_upsert(spark, sf_dir).collect()
        by_id = {r["doc_id"]: r["action"] for r in rows}
        acts = set(by_id.values())
        assert acts == {"kept", "updated", "inserted"}
        for doc_id, action in by_id.items():
            in_base = doc_id % 4 != 3
            has_change = doc_id % 3 == 0  # seq-1 'U' implies any change
            latest_is_delete = doc_id % 9 == 0
            # deletes never survive
            assert not latest_is_delete, (doc_id, action)
            if action == "kept":
                assert in_base and not has_change
            elif action == "updated":
                assert in_base and has_change
            else:  # inserted
                assert (not in_base) and has_change

    def test_deleted_keys_absent(self, spark, sf_dir):
        from sea_streamer_spark.plans.curation import cdc_merge_upsert

        ids = {r["doc_id"] for r in cdc_merge_upsert(spark, sf_dir).collect()}
        assert not any(i % 9 == 0 for i in ids)


class TestWordPiece:
    def test_distributed_trainer_matches_python_reference(self, spark, sf_dir):
        import duckdb

        from sea_streamer_spark.operators.bpe import (
            py_train_wordpiece,
            train_wordpiece,
        )
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        got = train_wordpiece(docs, 12)
        rows = duckdb.sql(
            f"SELECT w, COUNT(*) AS n FROM (SELECT unnest("
            f"string_split_regex(text, '\\s+')) AS w FROM "
            f"'{sf_dir}/documents.parquet') WHERE len(w) > 0 GROUP BY w"
        ).fetchall()
        want = py_train_wordpiece({w: int(n) for w, n in rows}, 12)
        assert got == want

    def test_likelihood_rule_differs_from_bpe(self, spark, sf_dir):
        # The two trainers share machinery but not the argmax: on the same
        # corpus their merge sequences must diverge somewhere (if they never
        # did, the likelihood score would be vacuous here).
        import duckdb

        from sea_streamer_spark.operators.bpe import (
            py_train_bpe,
            py_train_wordpiece,
        )

        rows = duckdb.sql(
            f"SELECT w, COUNT(*) AS n FROM (SELECT unnest("
            f"string_split_regex(text, '\\s+')) AS w FROM "
            f"'{sf_dir}/documents.parquet') WHERE len(w) > 0 GROUP BY w"
        ).fetchall()
        wc = {w: int(n) for w, n in rows}
        bpe = [(l, r) for l, r, _ in py_train_bpe(wc, 24)]
        wp = [(l, r) for l, r, _ in py_train_wordpiece(wc, 24)]
        assert bpe != wp

    def test_rare_pairs_never_selected(self):
        # pc < 2 pairs are excluded BEFORE ranking (a once-seen pair with a
        # tiny denominator must not beat a frequent pair, and must not stop
        # training while compressible pairs remain).
        from sea_streamer_spark.operators.bpe import py_train_wordpiece

        wc = {"zq": 1, "ab": 50, "abab": 10}
        merges = py_train_wordpiece(wc, 4)
        assert ("z", "q") not in [(l, r) for l, r, _ in merges]
        assert merges, "frequent pairs must still merge"


class TestClassifierProbe:
    def test_distributed_trainer_matches_python_reference(self, spark, sf_dir):
        import duckdb

        from sea_streamer_spark.operators.classifier import (
            py_features,
            py_label,
            py_train,
            spark_train,
        )
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        got = spark_train(docs, iters=10)
        rows = duckdb.sql(
            f"SELECT text FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
        want = py_train([(py_features(t), py_label(t)) for (t,) in rows], iters=10)
        assert got == want

    def test_training_learns_the_topic(self):
        import duckdb

        from sea_streamer_spark.operators.classifier import (
            py_features,
            py_label,
            py_train,
        )
        from sea_streamer_spark.plans.fragments import ORACLE_SF_DIR

        rows = duckdb.sql(
            f"SELECT text FROM '{ORACLE_SF_DIR}/documents.parquet'"
        ).fetchall()
        samples = [(py_features(t), py_label(t)) for (t,) in rows]
        w = py_train(samples)
        acc = sum(
            1
            for xs, y in samples
            if (sum(a * b for a, b in zip(w, xs)) > 0) == (y == 1)
        ) / len(samples)
        assert acc >= 0.95, acc
        # sign structure: positive markers learned positive, negative negative
        assert all(wj > 0 for wj in w[1:5]), w
        assert all(wj < 0 for wj in w[5:9]), w

    def test_scoring_is_shuffle_free(self, spark, sf_dir):
        from sea_streamer_spark.operators.classifier import score_col
        from sea_streamer_spark.sources.tables import load_tables
        from tests.test_plan_quality import _final_plan, _shuffle_exchanges

        docs = load_tables(spark, sf_dir, "documents").documents
        df = docs.select(score_col(F.col("text"), [1] * 9).alias("z"))
        assert _shuffle_exchanges(_final_plan(df)) == 0


class TestEntityResolution:
    def test_match_and_orphan_structure(self, spark, sf_dir):
        from sea_streamer_spark.plans.dedup import (
            _ER_DIRTY_BASE,
            entity_resolution_customers,
        )

        rows = entity_resolution_customers(spark, sf_dir).collect()
        assert rows
        by_dirty: dict[int, list] = {}
        for r in rows:
            by_dirty.setdefault(r["dirty_key"], []).append(r["clean_key"])
        for dk, cleans in by_dirty.items():
            src = dk - _ER_DIRTY_BASE
            if src % 15 == 0:
                # double deletion -> distance 2 -> engineered orphan
                assert cleans == [None], (dk, cleans)
            else:
                # single deletion must at least re-find its own source
                assert src in cleans, (dk, cleans)

    def test_blocking_join_is_not_a_nested_loop(self, spark, sf_dir):
        from sea_streamer_spark.plans.dedup import entity_resolution_customers
        from tests.test_plan_quality import _final_plan

        plan = _final_plan(entity_resolution_customers(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan


class TestEventsAnalytics:
    def test_retention_offset_zero_is_cohort_size(self, spark, sf_dir):
        from sea_streamer_spark.plans.event_analytics import events_cohort_retention

        rows = events_cohort_retention(spark, sf_dir).collect()
        assert rows
        by_cohort: dict[int, dict[int, int]] = {}
        for r in rows:
            by_cohort.setdefault(r["cohort_day"], {})[r["offset_days"]] = r[
                "n_users"
            ]
        for cohort, offs in by_cohort.items():
            assert 0 in offs, cohort  # day-0 row always present
            assert all(o >= 0 for o in offs)
            # retention never exceeds the cohort's size
            assert max(offs.values()) <= offs[0] or offs[0] >= max(
                v for o, v in offs.items() if o > 0
            )

    def test_gini_bounds_and_skew_ordering(self, spark, sf_dir):
        from sea_streamer_spark.plans.event_analytics import profile_key_skew

        rows = profile_key_skew(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 0 <= r["gini_micro"] < 1_000_000, r
            assert 0 < r["top5_share_permille"] <= 1000, r
            assert r["max_rows"] <= r["n_rows"]
            assert r["n_keys"] <= r["n_rows"]

    def test_gini_detects_engineered_skew(self, spark):
        from pyspark.sql import Window

        # uniform keys vs one hot key: gini must rank them correctly
        from sea_streamer_spark.plans.event_analytics import profile_key_skew

        uniform = spark.createDataFrame(
            [("u", i % 10, i) for i in range(100)],
            "event_type string, user_id long, event_id long",
        )
        skewed = spark.createDataFrame(
            [("s", 0 if i < 91 else i % 10, i) for i in range(100)],
            "event_type string, user_id long, event_id long",
        )
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            uniform.union(skewed).withColumn(
                "ts", F.timestamp_micros(F.lit(0))
            ).withColumn("value", F.lit(0.0)).withColumn(
                "props", F.lit("{}")
            ).write.parquet(td + "/events.parquet")
            rows = {
                r["event_type"]: r
                for r in profile_key_skew(spark, td).collect()
            }
        assert rows["u"]["gini_micro"] == 0  # perfectly uniform
        assert rows["s"]["gini_micro"] > 500_000  # one key holds 91%
        assert rows["s"]["top5_share_permille"] > 900


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    return {n: min(m for m in nodes if find(m) == find(n)) for n in nodes}


class TestIncrementalComponents:
    def test_incremental_equals_rebuild_randomized(self, spark):
        import random

        from sea_streamer_spark.operators.graph import (
            connected_components,
            incremental_components,
        )

        rng = random.Random(7)
        for trial in range(3):
            nodes = list(range(40))
            all_edges = [
                (rng.randrange(40), rng.randrange(40)) for _ in range(45)
            ]
            all_edges = [(u, v) for u, v in all_edges if u != v]
            cut = 20
            old = [(u, v) for u, v in all_edges if u < cut and v < cut]
            delta = [(u, v) for u, v in all_edges if u >= cut or v >= cut]
            if not old or not delta:
                continue
            old_df = spark.createDataFrame(old, "doc_a long, doc_b long")
            delta_df = spark.createDataFrame(delta, "doc_a long, doc_b long")
            old_labels = connected_components(old_df)
            inc = {
                r["node"]: r["cluster"]
                for r in incremental_components(old_labels, delta_df).collect()
            }
            touched = sorted({n for e in all_edges for n in e})
            want = _uf_components(all_edges, touched)
            want = {n: c for n, c in want.items() if n in inc}
            assert inc == want, trial

    def test_cross_batch_cluster_merge(self, spark):
        from sea_streamer_spark.operators.graph import (
            connected_components,
            incremental_components,
        )

        # two old clusters {1,2} and {5,6}; a delta edge through a NEW node
        # merges them -> every member must relabel to the global min (1)
        old = spark.createDataFrame([(1, 2), (5, 6)], "doc_a long, doc_b long")
        labels = connected_components(old)
        delta = spark.createDataFrame(
            [(2, 100), (100, 6)], "doc_a long, doc_b long"
        )
        inc = {
            r["node"]: r["cluster"]
            for r in incremental_components(labels, delta).collect()
        }
        assert inc == {1: 1, 2: 1, 5: 1, 6: 1, 100: 1}


class TestMmrDiverseTopk:
    def _py_mmr(self, embs: dict[int, list], qv, k, pool, lam):
        from sea_streamer_spark.operators.similarity import cos_py

        simq = {i: cos_py(v, qv) for i, v in embs.items()}
        cands = sorted(simq, key=lambda i: (-simq[i], i))[:pool]
        picked: list[int] = []
        out = []
        for rank in range(1, k + 1):
            best = None
            for c in cands:
                if c in picked:
                    continue
                t_rel = lam * simq[c]
                t_div = (
                    round(1.0 - lam, 10)
                    * max(cos_py(embs[c], embs[s]) for s in picked)
                    if picked
                    else 0.0
                )
                key = (-(t_rel - t_div), c)
                if best is None or key < best[0]:
                    best = (key, c, simq[c], t_rel - t_div)
            picked.append(best[1])
            out.append((rank, best[1], best[2], best[3]))
        return out

    def test_matches_pure_python_greedy(self, spark, sf_dir):
        from sea_streamer_spark.plans.similarity import (
            _MMR_K,
            _MMR_LAM,
            _MMR_POOL,
            mmr_diverse_topk,
        )
        from sea_streamer_spark.sources.tables import load_tables

        emb = load_tables(spark, sf_dir, "embeddings").embeddings
        embs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
        qv = embs.pop(0)
        want = self._py_mmr(embs, qv, _MMR_K, _MMR_POOL, _MMR_LAM)
        got = [
            (r["rank"], r["vec_id"], r["simq"], r["score"])
            for r in mmr_diverse_topk(spark, sf_dir).collect()
        ]
        assert got == want  # exact float equality — shared folds

    def test_diversity_changes_the_selection(self, spark, sf_dir):
        from sea_streamer_spark.operators.similarity import cosine_topk
        from sea_streamer_spark.plans.similarity import mmr_diverse_topk
        from sea_streamer_spark.sources.tables import load_tables

        emb = load_tables(spark, sf_dir, "embeddings").embeddings
        plain = [
            r["vec_id"] for r in cosine_topk(emb, query_id=0, k=8).collect()
        ]
        mmr_rows = mmr_diverse_topk(spark, sf_dir).collect()
        mmr = [r["vec_id"] for r in sorted(mmr_rows, key=lambda r: r["rank"])]
        # rank 1 is always the plain cosine argmax...
        assert mmr[0] == plain[0]
        # ...but the diversity term must reorder or replace later picks
        assert mmr != plain


class TestPatternMatch:
    def test_matches_python_re(self, spark, sf_dir):
        import re as _re

        from sea_streamer_spark.plans.event_analytics import (
            _CEP_PATTERN,
            events_pattern_match,
        )
        from sea_streamer_spark.sources.tables import load_tables

        ev = load_tables(spark, sf_dir, "events").events
        rows = ev.select("user_id", "ts", "event_id", "event_type").collect()
        seqs: dict[int, list] = {}
        for r in rows:
            seqs.setdefault(r["user_id"], []).append(
                (r["ts"], r["event_id"], r["event_type"][0])
            )
        got = {
            r["user_id"]: (r["seq_len"], r["n_matches"], r["matched_chars"])
            for r in events_pattern_match(spark, sf_dir).collect()
        }
        assert set(got) == set(seqs)
        any_match = False
        for uid, evs in seqs.items():
            s = "".join(c for _, _, c in sorted(evs))
            ms = _re.findall(_CEP_PATTERN, s)
            assert got[uid] == (len(s), len(ms), sum(len(m) for m in ms)), uid
            any_match |= bool(ms)
        assert any_match  # the corpus actually contains the funnel pattern

    def test_hand_cases(self):
        import re as _re

        from sea_streamer_spark.plans.event_analytics import _CEP_PATTERN

        assert _re.findall(_CEP_PATTERN, "vvccp") == ["vvccp"]
        assert _re.findall(_CEP_PATTERN, "vcpvcp") == ["vcp", "vcp"]
        assert _re.findall(_CEP_PATTERN, "vvcc") == []  # no purchase
        assert _re.findall(_CEP_PATTERN, "vpc") == []  # wrong order
        assert _re.findall(_CEP_PATTERN, "vcvcp") == ["vcp"]  # restart


class TestGapFill:
    def test_corpus_has_gaps_and_locf_is_total_after_first(self, spark, sf_dir):
        from sea_streamer_spark.plans.event_analytics import events_gapfill_15m

        rows = events_gapfill_15m(spark, sf_dir).collect()
        assert rows
        assert any(r["filled"] == 1 for r in rows)  # real gaps at this sf
        seen_obs = False
        prev = None
        for r in rows:  # already ordered by bucket
            if r["filled"] == 0:
                seen_obs = True
                prev = r["revenue_locf"]
            else:
                assert r["n"] == 0
                if seen_obs:
                    assert r["revenue_locf"] == prev  # carried forward
        assert seen_obs

    def test_grid_is_dense(self, spark, sf_dir):
        from sea_streamer_spark.plans.event_analytics import events_gapfill_15m

        rows = events_gapfill_15m(spark, sf_dir).collect()
        buckets = [r["bucket"] for r in rows]
        assert buckets == list(range(min(buckets), max(buckets) + 1))


class TestValidateExpectations:
    def test_mixed_outcomes_and_scan_economy(self, spark, sf_dir):
        from sea_streamer_spark.plans.quality_signals import validate_expectations

        rows = {r["rule_id"]: r for r in validate_expectations(spark, sf_dir).collect()}
        assert len(rows) == 7
        # clean rules stay clean
        assert rows["orderkey_unique_not_null"]["n_violations"] == 0
        assert rows["custkey_fk_valid"]["n_violations"] == 0
        assert rows["nchars_matches_text"]["n_violations"] == 0
        # engineered-reality rules genuinely fail on this corpus
        assert rows["status_enum_of"]["n_violations"] > 0
        assert rows["orderdate_before_2001"]["n_violations"] > 0
        for r in rows.values():
            assert 0 <= r["n_violations"] <= r["n_checked"]

    def test_single_scan_per_table(self, spark, sf_dir):
        # all 5 orders rules share one aggregate: the plan must scan the
        # orders parquet at most twice (agg + FK probe), not once per rule
        from sea_streamer_spark.plans.quality_signals import validate_expectations
        from tests.test_plan_quality import _final_plan

        plan = _final_plan(validate_expectations(spark, sf_dir))
        assert plan.count("orders.parquet") <= 2, plan
        assert plan.count("documents.parquet") <= 1, plan


class TestWebPipelineExample:
    def test_example_runs_end_to_end(self, spark, sf_dir, capsys, monkeypatch):
        import importlib.util
        import os as _os

        spec = importlib.util.spec_from_file_location(
            "web_pipeline",
            _os.path.join(
                _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
                "examples",
                "web_pipeline.py",
            ),
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        monkeypatch.setattr(sys, "argv", ["web_pipeline.py", sf_dir])
        # main() calls get_spark (returns the active session) + stop();
        # keep the shared fixture session alive
        monkeypatch.setattr(type(spark), "stop", lambda self: None)
        mod.main()
        out = capsys.readouterr().out
        assert "after quota+dedup+probe" in out
        assert "snapshot merge" in out
        assert "incremental" in out


import sys  # noqa: E402


class TestJoinCardinality:
    def test_one_sided_and_tight(self, spark, sf_dir):
        from sea_streamer_spark.plans.sketch import _JC_W, sketch_join_cardinality

        rows = {r["stat"]: r["value"] for r in
                sketch_join_cardinality(spark, sf_dir).collect()}
        exact, est = rows["exact"], rows["estimate"]
        assert est >= exact  # colliding keys only ever ADD mass
        for j in range(4):
            assert rows[f"ip_row_{j}"] >= est  # estimate is the min
        # accuracy: expected excess per row is Na*Nb/width; the min over
        # 4 rows should land well inside 3x that bound on this data
        import duckdb

        na = duckdb.sql(
            f"SELECT COUNT(*) FROM '{sf_dir}/orders.parquet'"
        ).fetchone()[0]
        nb = duckdb.sql(
            f"SELECT COUNT(*) FROM '{sf_dir}/lineitem.parquet'"
        ).fetchone()[0]
        assert est - exact <= 3 * na * nb // _JC_W, (est, exact)

    def test_python_model_matches_query(self, spark, sf_dir):
        from sea_streamer_spark.operators.sketch import (
            CMS_DEPTH,
            CmsModel,
            cms_inner_products,
        )

        # independent python build of both grids from raw keys
        import duckdb

        from sea_streamer_spark.plans.sketch import _JC_W, sketch_join_cardinality

        def build(sql):
            grid = [[0] * _JC_W for _ in range(CMS_DEPTH)]
            from sea_streamer_spark.operators.sketch import CMS_AB, MOD

            for (key, n) in duckdb.sql(sql).fetchall():
                h = 0
                for ch in str(key):
                    h = (h * 31 + ord(ch)) % MOD
                for j, (a, b) in enumerate(CMS_AB):
                    grid[j][((a * h + b) % MOD) % _JC_W] += n
            return CmsModel(width=_JC_W, grid=tuple(tuple(g) for g in grid))

        ga = build(
            f"SELECT o_orderkey, COUNT(*) FROM '{sf_dir}/orders.parquet' GROUP BY 1"
        )
        gb = build(
            f"SELECT l_orderkey, COUNT(*) FROM '{sf_dir}/lineitem.parquet' GROUP BY 1"
        )
        want = cms_inner_products(ga, gb)
        rows = {r["stat"]: r["value"] for r in
                sketch_join_cardinality(spark, sf_dir).collect()}
        assert [rows[f"ip_row_{j}"] for j in range(4)] == want


class TestDriftChisq:
    def test_matches_scipy_style_reference(self, spark, sf_dir):
        import duckdb
        import math

        from sea_streamer_spark.plans.quality_drift import profile_drift_chisq

        rows = duckdb.sql(
            f"""SELECT source, lang,
                 SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_old,
                 SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS n_new
               FROM '{sf_dir}/documents.parquet' GROUP BY 1, 2"""
        ).fetchall()
        t_old = sum(int(r[2]) for r in rows)
        t_new = sum(int(r[3]) for r in rows)
        want = {}
        for src, lang, n_old, n_new in rows:
            n_old, n_new = int(n_old), int(n_new)
            if n_old == 0:
                want[(src, lang)] = -1
            else:
                # classic chi^2 cell: (observed - expected)^2 / expected
                e = n_old * t_new / t_old
                want[(src, lang)] = math.floor(
                    ((n_new - e) ** 2 / e) * 1_000_000 + 0.5
                )
        got = {
            (r["source"], r["lang"]): r["chi_micro"]
            for r in profile_drift_chisq(spark, sf_dir).collect()
        }
        assert set(got) == set(want)
        for k in want:
            # the integer-assembled formula equals the float textbook one
            # to within 1 micro (double rounding differences only)
            assert abs(got[k] - want[k]) <= 1, (k, got[k], want[k])

    def test_engineered_drift_is_flagged(self, spark):
        import tempfile

        from sea_streamer_spark.plans.quality_drift import profile_drift_chisq

        # source 'stable' identical across waves; 'drifted' doubles in the
        # new wave; 'fresh' appears only in the new wave
        rows = []
        did = 0
        for _ in range(50):  # stable: 1 old + 1 new alternating ids
            rows += [(did, "x", "en", "stable", 1), (did + 1, "x", "en", "stable", 1)]
            did += 2
        for _ in range(10):
            rows += [(did, "x", "en", "drifted", 1)]
            did += 2  # old only
        for _ in range(40):
            rows += [(did + 1, "x", "en", "drifted", 1)]
            did += 2  # new only
        rows += [(did + 1, "x", "en", "fresh", 1)]
        with tempfile.TemporaryDirectory() as td:
            spark.createDataFrame(
                rows, "doc_id long, text string, lang string, source string, n_chars long"
            ).write.parquet(td + "/documents.parquet")
            got = {
                r["source"]: r["chi_micro"]
                for r in profile_drift_chisq(spark, td).collect()
            }
        assert got["fresh"] == -1  # unseen category
        assert got["drifted"] > got["stable"]
        assert got["drifted"] > 1_000_000  # chi > 1: real drift


class TestTrianglesAndKAnon:
    def test_triangles_match_brute_force(self, spark, sf_dir):
        from itertools import combinations

        from sea_streamer_spark.operators.dedup import minhash_lsh_dedup
        from sea_streamer_spark.plans.dedup import graph_triangle_counts
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_dedup(docs, threshold=0.5)
            .select("doc_a", "doc_b")
            .collect()
        }
        nodes = sorted({n for p in pairs for n in p})
        per_node: dict[int, int] = {}
        for a, b, c in combinations(nodes, 3):
            if (a, b) in pairs and (b, c) in pairs and (a, c) in pairs:
                for n in (a, b, c):
                    per_node[n] = per_node.get(n, 0) + 1
        got = {
            r["node"]: r["n_triangles"]
            for r in graph_triangle_counts(spark, sf_dir).collect()
        }
        assert got == per_node

    def test_engineered_triangle_graph(self, spark):
        # clique{1,2,3,4} has 4 triangles (3 per node); path 5-6-7 has none
        from pyspark.sql import functions as F

        from sea_streamer_spark.plans import dedup  # noqa: F401

        edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        edges += [(5, 6), (6, 7)]
        e = spark.createDataFrame(edges, "doc_a long, doc_b long")
        e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
        tri = (
            e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
            .join(
                e3,
                (F.col("e3.doc_a") == F.col("e1.doc_a"))
                & (F.col("e3.doc_b") == F.col("e2.doc_b")),
            )
            .select(
                F.col("e1.doc_a").alias("a"),
                F.col("e1.doc_b").alias("b"),
                F.col("e2.doc_b").alias("c"),
            )
        )
        rows = tri.collect()
        assert len(rows) == 4  # C(4,3), each counted exactly once
        assert not any(5 in r or 6 in r or 7 in r for r in
                       [(x["a"], x["b"], x["c"]) for x in rows])

    def test_k_anonymity_flags(self, spark, sf_dir):
        from sea_streamer_spark.plans.quality_signals import privacy_k_anonymity

        rows = privacy_k_anonymity(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert (r["class_size"] < 5) == bool(r["at_risk"])


class TestSpanRemoval:
    def test_removal_count_equals_coverage_metric(self, spark, sf_dir):
        from sea_streamer_spark.operators.dedup import (
            duplicated_span_coverage,
        )
        from sea_streamer_spark.plans.span_dedup import dedup_span_removal
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        cov = {
            r["doc_id"]: r["covered_tokens"]
            for r in duplicated_span_coverage(docs).collect()
        }
        rem = {r["doc_id"]: r for r in dedup_span_removal(spark, sf_dir).collect()}
        assert set(cov) == set(rem)
        for did, r in rem.items():
            # the apply removes exactly what the metric measures
            assert r["n_removed"] == cov[did], did
            assert 0 <= r["n_removed"] <= r["n_tokens"]

    def test_survivors_contain_no_duplicated_trigram_fully_inside(self, spark):
        # engineered corpus: a shared sentence between two docs must vanish
        import tempfile

        from sea_streamer_spark.plans.span_dedup import dedup_span_removal

        shared = "alpha beta gamma delta"
        rows = [
            (0, f"unique one two {shared}", "en", "s", 1),
            (1, f"{shared} other tail words", "en", "s", 1),
            (2, "totally fresh text here now", "en", "s", 1),
        ]
        with tempfile.TemporaryDirectory() as td:
            import hashlib

            spark.createDataFrame(
                rows, "doc_id long, text string, lang string, source string, n_chars long"
            ).write.parquet(td + "/documents.parquet")
            got = {r["doc_id"]: r for r in dedup_span_removal(spark, td).collect()}
        # docs 0/1 lose the 4 shared tokens; doc 2 is untouched
        assert got[0]["n_removed"] == 4
        assert got[1]["n_removed"] == 4
        assert got[2]["n_removed"] == 0
        assert got[0]["clean_fp"] == hashlib.md5(b"unique one two").hexdigest()
        assert got[1]["clean_fp"] == hashlib.md5(b"other tail words").hexdigest()


class TestRrfFusion:
    def test_formula_and_fusion_structure(self, spark, sf_dir):
        import math

        from sea_streamer_spark.plans.similarity import _RRF_K, search_rrf_fusion

        rows = search_rrf_fusion(spark, sf_dir).collect()
        assert len(rows) == 10
        both = [r for r in rows if r["lex_rank"] > 0 and r["vec_rank"] > 0]
        assert both, "top-10 should contain docs found by BOTH rankers"
        for r in rows:
            want = 0.0
            if r["lex_rank"] > 0:
                want += 1.0 / (_RRF_K + r["lex_rank"])
            if r["vec_rank"] > 0:
                want += 1.0 / (_RRF_K + r["vec_rank"])
            assert r["rrf_nano"] == math.floor(want * 1e9 + 0.5), r
        # ordering is by fused score
        nanos = [r["rrf_nano"] for r in rows]
        assert nanos == sorted(nanos, reverse=True)


class TestIncrementalRestatement:
    def test_restated_hours_only_and_exact_distincts(self, spark, sf_dir):
        from sea_streamer_spark.plans.event_analytics import rollup_incremental_restatement
        from sea_streamer_spark.sources.tables import load_tables

        ev = load_tables(spark, sf_dir, "events").events
        # delta hours (late data targets)
        delta_cells = {
            (r["event_type"], r["hour"])
            for r in ev.filter(F.col("event_id") % 97 == 0)
            .select(
                "event_type",
                F.expr("unix_micros(ts) div 3600000000").alias("hour"),
            )
            .distinct()
            .collect()
        }
        assert delta_cells, "the 1% delta must touch some hours"
        rows = rollup_incremental_restatement(spark, sf_dir).collect()
        # full-rebuild reference for the distinct counts
        full = {
            (r["event_type"], r["hour"]): (r["n"], r["n_users"])
            for r in ev.groupBy(
                "event_type",
                F.expr("unix_micros(ts) div 3600000000").alias("hour"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("user_id").alias("n_users"),
            )
            .collect()
        }
        got = {(r["event_type"], r["hour"]): (r["n"], r["n_users"]) for r in rows}
        assert got == full  # incl. non-mergeable exact distincts


class TestStatsFamily:
    def test_histogram_heights_balanced_and_boundaries_ordered(self, spark, sf_dir):
        from sea_streamer_spark.plans.relational_stats import (
            _HIST_B,
            profile_equiheight_histogram,
        )

        rows = profile_equiheight_histogram(spark, sf_dir).collect()
        assert len(rows) == _HIST_B
        total = sum(r["n_rows"] for r in rows)
        for r in rows:
            # equi-height: every bucket within 1 row of n/B
            assert abs(r["n_rows"] - total / _HIST_B) <= 1, r
            assert r["lo_cents"] <= r["hi_cents"]
        for a, b in zip(rows, rows[1:]):
            assert a["hi_cents"] <= b["lo_cents"]  # ordered, non-overlapping

    def test_mad_matches_numpy_reference(self, spark, sf_dir):
        import duckdb
        import numpy as np

        from sea_streamer_spark.plans.event_trends import events_mad_outliers

        got = {r["event_type"]: r for r in events_mad_outliers(spark, sf_dir).collect()}
        rows = duckdb.sql(
            f"SELECT event_type, CAST(ROUND(value*1000000) AS BIGINT) "
            f"FROM '{sf_dir}/events.parquet'"
        ).fetchall()
        by_type: dict[str, list[int]] = {}
        for t, vm in rows:
            by_type.setdefault(t, []).append(int(vm))
        for t, vs in by_type.items():
            vs.sort()
            # lower median (rank (n+1)//2, 1-indexed) — the query's contract
            med = vs[(len(vs) + 1) // 2 - 1]
            devs = sorted(abs(v - med) for v in vs)
            mad = devs[(len(devs) + 1) // 2 - 1]
            n_out = sum(1 for v in vs if abs(v - med) > 3 * mad)
            r = got[t]
            assert (r["median_micro"], r["mad_micro"], r["n_outliers"]) == (
                med,
                mad,
                n_out,
            ), t
            # robustness sanity: MAD flags a small minority, never most
            assert n_out < len(vs) * 0.2


class TestAbConversion:
    def test_z_matches_python_reference(self, spark, sf_dir):
        import math

        from sea_streamer_spark.plans.event_ab_tests import events_ab_conversion

        r = events_ab_conversion(spark, sf_dir).collect()[0]
        n_a, c_a, n_b, c_b = r["n_a"], r["c_a"], r["n_b"], r["c_b"]
        assert n_a > 0 and n_b > 0
        total_c = c_a + c_b
        if total_c == 0 or total_c == n_a + n_b:
            assert r["z_micro"] == 0  # degenerate guard
        else:
            pa, pb = c_a / n_a, c_b / n_b
            pp = total_c / (n_a + n_b)
            z = (pa - pb) / math.sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b))
            assert r["z_micro"] == math.floor(z * 1_000_000 + 0.5)

    def test_arm_assignment_is_portable_hash(self, spark, sf_dir):
        # arms must be the registry's split_bucket(user_id, 2) — stable
        # across engines/runs (the experimentation requirement)
        from sea_streamer_spark.operators.curation import split_bucket
        from sea_streamer_spark.plans.event_ab_tests import events_ab_conversion
        from sea_streamer_spark.sources.tables import load_tables

        ev = load_tables(spark, sf_dir, "events").events
        arms = (
            ev.select("user_id")
            .distinct()
            .withColumn("arm", split_bucket("user_id", 2))
            .groupBy("arm")
            .count()
            .collect()
        )
        sizes = {r["arm"]: r["count"] for r in arms}
        r = events_ab_conversion(spark, sf_dir).collect()[0]
        assert r["n_a"] == sizes.get(0, 0)
        assert r["n_b"] == sizes.get(1, 0)


class TestRankNormalize:
    def test_per_source_fairness(self, spark, sf_dir):
        from sea_streamer_spark.plans.quality_signals import quality_rank_normalize

        rows = quality_rank_normalize(spark, sf_dir).collect()
        by_src: dict[str, list] = {}
        for r in rows:
            by_src.setdefault(r["source"], []).append(r)
        for src, rs in by_src.items():
            kept = sum(r["keep"] for r in rs)
            n = len(rs)
            if n > 1:
                # every source keeps ~70% regardless of raw distribution
                assert abs(kept / n - 0.7) < 0.15, (src, kept, n)
            # permille spans [0, 1000] and is monotone in raw_score
            ordered = sorted(rs, key=lambda r: (r["raw_score"], r["doc_id"]))
            pms = [r["permille"] for r in ordered]
            assert pms == sorted(pms)
            if n > 1:
                assert pms[0] == 0 and pms[-1] == 1000

    def test_normalization_beats_global_threshold_on_skewed_sources(self, spark):
        # a "low-scoring" source under a global cut loses everything; under
        # rank normalization it keeps its own top 70%
        import tempfile

        from sea_streamer_spark.plans.quality_signals import quality_rank_normalize

        rows = []
        for i in range(20):  # rich source: long texts
            rows.append((i, "alpha beta gamma delta " * (10 + i), "en", "rich", 1))
        for i in range(20, 40):  # poor source: short texts
            rows.append((i, "x y " * (1 + i % 3), "en", "poor", 1))
        with tempfile.TemporaryDirectory() as td:
            spark.createDataFrame(
                rows, "doc_id long, text string, lang string, source string, n_chars long"
            ).write.parquet(td + "/documents.parquet")
            out = quality_rank_normalize(spark, td).collect()
        poor_kept = sum(r["keep"] for r in out if r["source"] == "poor")
        rich_kept = sum(r["keep"] for r in out if r["source"] == "rich")
        assert poor_kept > 0  # a global raw cut would have zeroed this
        assert abs(poor_kept - rich_kept) <= 2  # both keep ~the same share


class TestBfsLevels:
    def test_engineered_chain_and_clique(self, spark):
        from sea_streamer_spark.operators.graph import bfs_levels

        # chain 1-2-3-4-5 rooted at 1 -> levels 0..4; clique {10,11,12}
        # rooted at 10 -> everything at level <= 1
        edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (11, 12)]
        e = spark.createDataFrame(edges, "doc_a long, doc_b long")
        roots = spark.createDataFrame([(1,), (10,)], "node long")
        got = {r["node"]: r["level"] for r in bfs_levels(e, roots).collect()}
        assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 10: 0, 11: 1, 12: 1}

    def test_levels_match_python_bfs(self, spark, sf_dir):
        from collections import deque

        from sea_streamer_spark.operators.dedup import minhash_lsh_dedup
        from sea_streamer_spark.operators.graph import connected_components
        from sea_streamer_spark.plans.dedup import graph_bfs_levels
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        pairs = [
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_dedup(docs, threshold=0.5)
            .select("doc_a", "doc_b")
            .collect()
        ]
        adj: dict[int, set] = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        roots = {
            r["cluster"]
            for r in connected_components(
                spark.createDataFrame(pairs, "doc_a long, doc_b long")
            ).collect()
        }
        want: dict[int, int] = {}
        for root in roots:
            q = deque([(root, 0)])
            while q:
                n, lvl = q.popleft()
                if n in want and want[n] <= lvl:
                    continue
                want[n] = lvl
                for m in adj.get(n, ()):
                    if m not in want or want[m] > lvl + 1:
                        q.append((m, lvl + 1))
        got = {r["node"]: r["level"] for r in graph_bfs_levels(spark, sf_dir).collect()}
        assert got == want


class TestNoveltyAndGrowth:
    def test_first_doc_has_full_novelty(self, spark, sf_dir):
        from sea_streamer_spark.plans.text import text_novelty_score

        rows = {r["doc_id"]: r for r in text_novelty_score(spark, sf_dir).collect()}
        first = rows[min(rows)]
        # every shingle of the earliest doc first-occurs there
        assert first["novelty_permille"] == 1000
        for r in rows.values():
            assert 0 <= r["novelty_permille"] <= 1000
            assert r["n_novel"] <= r["n_shingles"]

    def test_growth_curve_is_monotone_and_concave_ish(self, spark, sf_dir):
        from sea_streamer_spark.plans.text import corpus_growth_curve

        rows = corpus_growth_curve(spark, sf_dir).collect()
        toks = [r["n_tokens"] for r in rows]
        vocab = [r["n_vocab"] for r in rows]
        assert toks == sorted(toks) and vocab == sorted(vocab)
        assert all(v <= t for v, t in zip(vocab, toks))
        # the tiny fixed vocabulary saturates early: final checkpoints flat
        assert vocab[-1] == vocab[-2]
