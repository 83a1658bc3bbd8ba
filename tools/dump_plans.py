#!/usr/bin/env python3
"""Dump the AQE-final physical plans of the bench headline queries (plus the
most scale-sensitive operators) to PLANS_SNAPSHOT.md — a reviewable artifact
of what actually executes, regenerated with:

    python tools/dump_plans.py [sf_dir]

Each section is the ``isFinalPlan=true`` executed plan (the query is run
first so AQE's runtime re-planning is included), followed by the pushdown
evidence lines (``PushedFilters`` / ``ReadSchema``) extracted from the scan
nodes. tests/test_plan_quality.py pins the load-bearing properties; this
file is the human-readable companion.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SNAPSHOT_QUERIES = [
    # bench headliners
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q18_large_orders", "dedup_minhash_lsh",
    "similarity_cosine_topk", "text_fingerprint", "text_token_stats",
    "window_tumbling_1h",
    # scale-shape representatives
    "search_bm25_topk", "curation_chunk_overlap", "dedup_semantic_ivf",
    "similarity_ann_ivf_pq", "dedup_simhash_neardup", "asof_join_purchase_click",
    # round-3 late additions (post-budget registrations)
    "dedup_span_coverage", "dedup_bloom_incremental", "quality_char_lm",
    "embedding_whiten_project", "curation_dsir_select",
    "graph_neardup_pagerank", "tokenizer_bpe_counts",
    "curation_leakage_safe_split", "layout_zorder_events",
    "profile_documents", "events_anomaly_zscore",
    "triples_hard_negatives", "contamination_matrix_sources",
    # round-3 continuation wave
    "text_lang_id_ngram", "sketch_quantile_bottomk", "join_skew_salted",
    "dataset_snapshot_diff", "multimodal_dhash_neardup", "text_typo_pairs",
    "events_funnel_stages", "profile_incremental_merge",
    "multimodal_audio_neardup", "join_bloom_prefilter", "events_value_trend",
    "embedding_quantize_sq8", "dedup_crossmodal_agreement",
    # round-5 wave (distributed global fuse order, spillable percentiles,
    # wide seqno projection, skew-immune span coverage, decay/winsorize/
    # rolling-window/asof-nearest/l-diversity/transition additions)
    "stream_merge_order_fuse", "agg_percentile_cont", "envelope_wide_seqno",
    "dedup_span_coverage_salted", "events_decayed_engagement",
    "quality_winsorize", "events_rolling_7d_actives",
    "asof_join_nearest_click", "privacy_l_diversity",
    "events_transition_matrix",
    # round-5 waves (dedup finishers, embedding QA, attribution,
    # token budgets, containment, SCD2, basket lift)
    "dedup_keep_longest_per_cluster", "dedup_rate_by_source",
    "embedding_outlier_centroid", "events_last_touch_attribution",
    "dedup_cluster_size_histogram", "curation_token_budget_mixture",
    "events_rfm_segments", "text_containment_pairs",
    "cdc_scd2_history", "basket_brand_pair_lift",
    "similarity_knn_label_accuracy", "embedding_exact_dup_vectors",
    "events_sessions_bounce_rate", "events_interarrival_histogram",
    "curation_pii_rate_by_source",
    "orders_pareto_concentration", "search_snippet_highlight",
    "agg_gini_by_nation", "asof_join_tolerance_15m",
    "dedup_token_savings_by_source", "events_weekday_hour_heatmap",
    "dedup_lsh_recall_eval", "events_error_burst_detect",
    "profile_length_by_lang",
    "text_langid_confusion", "agg_hhi_by_nation",
    "curation_lang_upsample_plan", "embedding_dim_variance_audit",
    "curation_dedup_pipeline_summary", "events_day_over_day_growth",
    "orders_seasonality_index",
    "quality_gopher_rate_by_source", "curation_source_lang_crosstab",
    "events_user_activity_histogram",
    "events_longest_daily_streak", "events_locf_imputation",
    # round-6/7 waves (suffix-array-grain spans, k-core, perplexity gate,
    # eval decontamination)
    "dedup_exact_substring_spans", "dedup_span_removal_exact",
    "graph_kcore_peel", "quality_perplexity_buckets",
    "curation_eval_decontaminate",
    # round-8 waves (unigram trainer family, winnowing, packing, overlap
    # matrix, Kneser-Ney, Rocchio PRF)
    "tokenizer_unigram_counts", "tokenizer_unigram_token_counts",
    "tokenizer_family_compare", "text_winnowing_fingerprints",
    "dedup_winnowing_pairs", "dedup_winnowing_recall_eval",
    "curation_packing_efficiency", "curation_source_overlap_matrix",
    "quality_kneser_ney_bigram", "search_rocchio_expand",
    "quality_selection_tradeoff", "text_rake_keywords",
    "embedding_binary_quantize_recall",
    "privacy_k_anonymity_audit", "events_changepoint_cusum",
    "quality_nb_distill_fidelity", "sketch_cms_error_eval",
    "curation_temperature_sampling_plan", "events_ab_srm_check",
    "text_source_jsd_matrix", "graph_harmonic_centrality",
    "text_burrows_delta_matrix",
    # round-9 waves
    "dedup_semantic_cluster", "dedup_semantic_recall_eval",
    "text_readability_scores", "privacy_t_closeness_audit",
    "graph_clustering_coefficient", "sketch_ams_f2_estimate",
    "search_query_likelihood_topk", "search_ndcg_eval",
    "events_benford_audit", "embedding_jl_distortion_audit",
    "text_lexical_richness", "quality_good_turing_spectrum",
    "curation_weighted_reservoir", "quality_signal_rank_correlation",
    "events_transition_entropy", "embedding_cell_label_purity",
    "profile_mann_whitney_drift", "quality_nb_calibration_curve",
    "graph_pagerank_convergence", "dedup_lsh_band_curve",
    "profile_ks_source_drift",
    # round-9 waves 21-51 (session 2)
    "quality_nb_auc_eval", "events_mann_kendall_trend",
    "text_collocation_llr", "events_ab_cuped",
    "dedup_prefix_filter_eval", "text_textrank_keywords",
    "events_poisson_bootstrap_ci", "quality_isotonic_calibration",
    "profile_psi_source_drift", "events_ewma_forecast_eval",
    "curation_pareto_front", "curation_kcenter_coreset",
    "text_word_burstiness", "curation_submodular_coverage",
    "quality_nb_metrics_summary", "agg_theil_index_by_nation",
    "dedup_cdc_chunking", "window_ohlc_hourly", "events_twap_by_type",
    "text_char_entropy", "privacy_dp_budget_plan",
    "graph_degree_assortativity", "graph_neardup_modularity",
    "embedding_anisotropy_audit", "events_user_powerlaw_mle",
    "set_symmetric_diff_multiset", "events_user_day_bitmask",
    "events_anomaly_masked_esd", "orders_abc_analysis",
    "quality_jm_lambda_em",
    "events_arrival_uniformity_ks",
    # round-10 waves
    "dedup_semantic_cluster_scaled",
    "privacy_pii_audit",
    "privacy_pii_redact_roundtrip",
    "events_theil_sen_trend",
    "events_acf_daily",
    "search_map_mrr_eval",
    "quality_chi2_feature_selection",
    "events_kaplan_meier_gaps",
    "text_heaps_law_fit",
    "quality_nb_brier_ece",
    "events_pot_tail_gpd",
    "curation_sample_apportionment",
    "events_changepoint_binseg",
    "graph_adamic_adar_linkpred",
    "orders_ltv_triangle",
    "events_lorenz_user_activity",
    "quality_mcnemar_gates",
    "events_runs_test_daily",
    "events_anomaly_mad_days",
    "text_sttr_profile",
    "agg_order_mad_by_nation",
    "search_rank_agreement_tau",
    "quality_cohens_kappa_gates",
    "events_weekday_anova",
    "lineitem_discount_response",
    "events_gini_user_activity",
    "quality_youden_threshold",
    # round-11 waves
    "graph_adamic_adar_hubcapped",
    "dedup_semantic_recall_planted",
    "curation_e2e_pipeline",
    "quality_mcc_gates",
    "text_lexical_concentration",
    "events_dispersion_index",
    "agg_concentration_rank_agreement",
    "events_logrank_cohorts",
    "embedding_mmd_split_drift",
    "basket_part_rules",
    "orders_retention_triangle",
    "events_burstiness_index",
    "curation_dedup_order_sensitivity",
    "quality_precision_at_k",
    "events_weekend_error_odds",
    "orders_priority_mix_chi2",
    "events_markov_stationary",
    # round-12 waves
    "curation_streaming_e2e",
    "quality_auc_nb_gate",
    "orders_mannwhitney_weekend",
    "events_kruskal_wallis_weekday",
    "events_session_bigrams",
    "curation_temperature_mixture",
    "graph_label_propagation",
    "orders_km_repurchase",
    "orders_cusum_monthly",
    "graph_hits_nations",
    "quality_pr_curve_nb_gate",
    "graph_jaccard_linkpred",
    "agg_atkinson_by_nation",
    "orders_holt_trend",
    "graph_resource_allocation_linkpred",
    "events_markov_entropy_rate",
    "events_welch_ttest_weekend",
    "quality_ks_gate_separation",
]


import re

#: Inner broadcast join printed with the build on the LEFT — the AQE
#: coin-flip class (r10 VERDICT task #7): when both join inputs have
#: near-equal runtime stats (e.g. the semantic self-joins, whose sides
#: are twins), AQE's build-side pick follows stage-materialization
#: order, so an UNCHANGED query flips BuildLeft/BuildRight (and which
#: child carries the BroadcastExchange wrapper) across regenerations.
_BUILD_LEFT = re.compile(
    r"BroadcastHashJoin \[(.*?)\], \[(.*?)\], Inner, BuildLeft"
)


def _text_col(line: str) -> int:
    """Column where the node's text starts: consume 3-char continuation
    cells (':  ' / '   '), then one optional marker cell (':- ' / '+- ').
    Children of a node place their marker cell at the parent's text
    column (Spark's generateTreeString convention)."""
    c = 0
    while line[c : c + 3] in (":  ", "   "):
        c += 3
    if line[c : c + 3] in (":- ", "+- "):
        c += 3
    return c


def normalize_build_sides(plan: str) -> str:
    """Render every INNER BroadcastHashJoin as BuildRight with the AQE
    broadcast wrapper (``BroadcastQueryStage`` + ``BroadcastExchange``)
    printed over the RIGHT child: when the coin flip built the left
    input, the two wrapper lines are relocated from the left child onto
    the right child (subtrees re-indented, markers fixed) and the token
    rewritten. Join children keep their logical left/right order and
    all non-wrapper content is untouched, so for the observed flip
    class — equivalent sides, same broadcast mode — the two variants
    serialize identically once ids are renumbered. Inner joins are
    side-symmetric (the wrapper says HOW the join ran, not what it
    computes); outer/semi variants pin their build side semantically
    and are left alone. Joins with a different left-child shape (a
    ReusedExchange leaf — its build side is pinned to the exchange it
    reuses — or a cache-backed subtree whose InMemoryRelation block
    breaks the 3-char-cell indentation invariant) are SKIPPED, not
    guessed: only the flippable wrapper shape is relocated."""
    lines = plan.splitlines()
    sites = [i for i, ln in enumerate(lines) if _BUILD_LEFT.search(ln)]
    for i in reversed(sites):  # bottom-up: moves never shift earlier sites
        ln = lines[i]
        m = _BUILD_LEFT.search(ln)
        cc = _text_col(ln)  # children's marker column
        l0, l1 = lines[i + 1], lines[i + 2]
        if not (
            l0[cc : cc + 3] == ":- "
            and re.match(r"BroadcastQueryStage \d+$", l0[cc + 3 :])
            and l1[cc : cc + 3] == ":  "
            and l1[cc + 3 : cc + 6] == "+- "
            and l1[cc + 6 :].startswith("BroadcastExchange ")
        ):
            continue  # not the flippable AQE wrapper shape
        wrap_stage, wrap_exch = l0[cc + 3 :], l1[cc + 6 :]
        # find second child (marker '+- ' at cc) and subtree end
        j2 = None
        for j in range(i + 3, len(lines)):
            if lines[j][cc : cc + 3] == "+- ":
                j2 = j
                break
            if _text_col(lines[j]) <= cc:
                break
        if j2 is None:
            continue  # irregular indentation (e.g. cached-plan block)
        end = len(lines)
        for j in range(j2 + 1, len(lines)):
            if _text_col(lines[j]) <= cc:
                end = j
                break
        # left child sans wrapper: outdent its subtree by 2 cells
        left = []
        for idx, bl in enumerate(lines[i + 3 : j2]):
            left.append(
                bl[:cc] + (":- " if idx == 0 else ":  ") + bl[cc + 9 :]
            )
        # right child with wrapper: indent original block by 2 cells
        r0 = lines[j2]
        right = [
            r0[:cc] + "+- " + wrap_stage,
            r0[:cc] + "   +- " + wrap_exch,
            r0[:cc] + "      +- " + r0[cc + 3 :],
        ]
        for bl in lines[j2 + 1 : end]:
            # the single continuation cell becomes three (two new
            # ancestors: BroadcastQueryStage, BroadcastExchange)
            right.append(bl[:cc] + "   " * 3 + bl[cc + 3 :])
        new_join = (
            ln[: m.start()]
            + f"BroadcastHashJoin [{m.group(1)}], [{m.group(2)}], "
            f"Inner, BuildRight"
            + ln[m.end() :]
        )
        lines = lines[:i] + [new_join] + left + right + lines[end:]
    return "\n".join(lines)


def canonicalize_plan(plan: str) -> str:
    """Renumber the per-run volatile ids in a plan string canonically
    (first-seen order) so an UNCHANGED plan serializes byte-identically
    across regenerations (r8 judge task #8: every wave commit rewrote a
    ~3000-line snapshot because expression ids are global counters, which
    buried the one plan that actually changed).

    - ``#NNN`` expression ids → ``#1, #2, ...`` in first-seen order —
      renumbered, NOT collapsed, so a self-join's two ``doc_id`` columns
      stay distinguishable.
    - ``plan_id=NNN`` / ``id=#NNN`` — same treatment, separate space.
    - AQE ``...QueryStage N`` numbers reflect RUNTIME
      stage-materialization order (which broadcast finished first), so
      identical plans print different absolute values across runs;
      first-seen renumbering over the printed tree is order-independent
      and keeps equality relations.
    - whole-stage-codegen ``*(N)`` span ids are STRIPPED to a bare
      ``*`` (r11): span membership itself jitters with AQE stage reuse,
      so even renumbered ids churn identical plans. The codegen marker
      stays; the span id goes.
    """
    expr_ids: dict[str, str] = {}
    plan_ids: dict[str, str] = {}
    stage_ids: dict[str, str] = {}

    def _expr(m: "re.Match[str]") -> str:
        k = m.group(0)
        if k not in expr_ids:
            expr_ids[k] = f"#{len(expr_ids) + 1}"
        return expr_ids[k]

    def _plan(m: "re.Match[str]") -> str:
        k = m.group(1)
        if k not in plan_ids:
            plan_ids[k] = str(len(plan_ids) + 1)
        return f"plan_id={plan_ids[k]}"

    def _stage(m: "re.Match[str]") -> str:
        k = m.group(2)
        if k not in stage_ids:
            stage_ids[k] = str(len(stage_ids) + 1)
        return f"{m.group(1)}QueryStage {stage_ids[k]}"

    def _codegen(m: "re.Match[str]") -> str:
        # r11: flat strip, not renumbering. Span MEMBERSHIP (which
        # operators fuse into one codegen loop) jitters with AQE stage
        # materialization order — the same child aggregate prints *(2)
        # (fused with its parent span) on one run and *(3) (own span)
        # on the next, so first-seen renumbering cannot reconcile two
        # identical plans. The `*` marker (codegen vs interpreted) is
        # the load-bearing bit and stays; span ids go.
        return "*"

    lambda_ids: dict[str, str] = {}

    def _lam(m: "re.Match[str]") -> str:
        k = m.group(2)
        if k not in lambda_ids:
            lambda_ids[k] = str(len(lambda_ids) + 1)
        return f"{m.group(1)}_{lambda_ids[k]}"

    plan = re.sub(r"plan_id=(\d+)", _plan, plan)
    plan = re.sub(r"(\w*)QueryStage (\d+)", _stage, plan)
    plan = re.sub(r"\*\(\d+\)", _codegen, plan)
    # higher-order-function lambda variables (lambda x_558#36): the name
    # counter is session-global, same renumbering treatment
    plan = re.sub(r"(lambda [A-Za-z]+)_(\d+)", _lam, plan)
    plan = re.sub(r"#\d+", _expr, plan)
    # r12: truncation-shift normalization. Spark truncates long fields
    # (DataFilters etc.) at a fixed RAW-string width, but the volatile
    # ids above have variable widths, so an identical plan can truncate
    # a character earlier or later run-to-run — and the shift survives
    # renumbering because renumbering happens AFTER the cut (the
    # embedding_anisotropy_audit racer, 3b66ac4: its two byte-forms
    # differed ONLY at an `...`-cut DataFilters tail). Chop the partial
    # token adjacent to every ellipsis back to the nearest delimiter
    # (≤48 chars), making the cut point insensitive to id-width jitter.
    # Anchored on the delimiter so the rewrite is idempotent.
    plan = re.sub(r"([\s\[\](,])[^\s\[\](,]{0,48}\.\.\.", r"\1...", plan)
    return plan


#: Variant separator inside a snapshot file (r11 VERDICT task #3): a
#: chronic AQE racer whose two byte-forms BOTH reproduce through the
#: 3-confirmation damper gets both committed, separated by this marker;
#: regen then matches EITHER form with zero churn. Only files in
#: CHRONIC_RACERS may accumulate variants — everywhere else a confirmed
#: change still replaces the file (snapshot diff = semantic change).
VARIANT_SEP = "\n\n== accepted AQE variant (exchange-reuse race) ==\n\n"

#: Files where the exchange-reuse/elision coin flip is chronic (flipped
#: through the r11 damper, commit 3b66ac4). Confirmed new shapes APPEND
#: as an accepted variant instead of replacing.
CHRONIC_RACERS = {"embedding_anisotropy_audit"}


def read_variants(path: str) -> list[str]:
    """Committed plan byte-forms for a snapshot file (without the scan-
    evidence tail), in commit order."""
    with open(path) as fh:
        committed = fh.read().split("\n\nScan evidence:", 1)[0]
    return [v.rstrip("\n") for v in committed.split(VARIANT_SEP)]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from sea_streamer_spark.session import get_spark

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    from sea_streamer_spark.plans.queries import QUERIES

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    snap_dir = os.path.join(repo, "plans_snapshot")
    os.makedirs(snap_dir, exist_ok=True)
    index = [
        "# PLANS_SNAPSHOT — AQE-final executed plans (index)",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`. One file per",
        "plan under `plans_snapshot/<query>.txt`, with expression/plan ids",
        "canonically renumbered (first-seen order), codegen span ids",
        "stripped to a bare `*`, and Inner broadcast joins rendered",
        "build-right (r8 judge task #8; r10 task #7 — AQE's build-side",
        "coin flip and codegen-span jitter no longer churn unchanged",
        "plans). `tests/test_plan_quality.py` pins the load-bearing",
        "properties (pushdown, broadcasts, shuffle budgets,",
        "no-Python-eval) so drift fails tests before it lands here.",
        "",
    ]
    def _dump_once(name: str) -> str:
        df = QUERIES[name].fn(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==", 1)[0].rstrip()
        return canonicalize_plan(normalize_build_sides(plan))

    damped: list[str] = []
    for name in SNAPSHOT_QUERIES:
        plan = _dump_once(name)
        # Churn damping (r11): a handful of AQE runtime races (exchange
        # reuse/elision, LogicalQueryStage capture, cached-plan-adjacent
        # build flips) survive text canonicalization and roam across
        # files regen-to-regen. A REAL plan change reproduces; a race
        # does not — so when the fresh canonical plan differs from every
        # committed byte-form, re-execute and only accept the change if
        # it reproduces 3x consecutively. If any re-run matches a
        # committed form instead, keep the committed bytes and report
        # the damped race (stdout AND the append-only DAMPED.md ledger,
        # so chronic damping of the same query is visible in git — r11
        # ADVICE). For declared CHRONIC_RACERS a confirmed new shape
        # APPENDS as an accepted variant (both forms committed; future
        # regens match either with zero churn) instead of replacing.
        out_path = os.path.join(snap_dir, f"{name}.txt")
        variants = [plan.rstrip("\n")]
        if os.path.exists(out_path):
            committed = read_variants(out_path)
            # A canonicalization-RULE upgrade (e.g. the r12 truncation
            # chop) changes committed bytes deterministically, not as a
            # race: re-canonicalize the committed forms (idempotent
            # under the current rules) and rewrite without the damper
            # when the fresh plan matches an upgraded form.
            upgraded = [canonicalize_plan(v).rstrip("\n") for v in committed]
            if plan.rstrip("\n") in committed:
                variants = committed
            elif plan.rstrip("\n") in upgraded:
                variants = sorted(
                    {canonicalize_plan(v).rstrip("\n") for v in committed},
                    key=upgraded.index,
                )
            else:
                accepted = True
                for _ in range(3):
                    replan = _dump_once(name)
                    if replan.rstrip("\n") in committed:
                        damped.append(name)
                        variants = committed
                        accepted = False
                        break
                    plan = replan
                if accepted:
                    if name in CHRONIC_RACERS:
                        variants = committed + [plan.rstrip("\n")]
                    else:
                        variants = [plan.rstrip("\n")]
        evidence = [
            ln.strip()
            for ln in variants[-1].splitlines()
            if "PushedFilters" in ln or "ReadSchema" in ln
        ]
        body = [VARIANT_SEP.join(variants), ""]
        if evidence:
            body += ["Scan evidence:", ""]
            body += [f"- {e[:200]}" for e in evidence]
            body += [""]
        with open(out_path, "w") as fh:
            fh.write("\n".join(body))
        index.append(f"- [{name}](plans_snapshot/{name}.txt)")
    if damped:
        print(f"damped {len(damped)} AQE race(s): {', '.join(damped)}")
        with open(os.path.join(snap_dir, "DAMPED.md"), "a") as fh:
            fh.write(f"- regen damped: {', '.join(sorted(damped))}\n")
    path = os.path.join(repo, "PLANS_SNAPSHOT.md")
    with open(path, "w") as fh:
        fh.write("\n".join(index) + "\n")
    print(f"wrote {path} + {len(SNAPSHOT_QUERIES)} plans in {snap_dir}")


if __name__ == "__main__":
    main()
