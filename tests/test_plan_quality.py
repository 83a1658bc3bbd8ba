"""Physical-plan quality gates for the headline queries.

Correctness alone is not the bar — at the 100 TB target the *plan shape* is
what survives a 100x scale-up. These tests pin the properties that matter:

- selective predicates reach the parquet scan (``PushedFilters``), so row
  groups are pruned before any CPU is spent;
- dimension-side joins are broadcast (no shuffle of the fact table to
  co-locate with a tiny dim);
- relational hot paths run entirely JVM-side (no Python eval nodes — those
  serialize every row through Arrow/pickle and forfeit whole-stage codegen);
- shuffle count is the theoretical minimum for the query shape.

If a refactor regresses one of these, the query still returns correct rows at
sf0.001 — only these tests catch the 100x cliff.
"""

from __future__ import annotations

from sea_streamer_spark.plans.queries import QUERIES


def _final_plan(df) -> str:
    # Materialize THIS plan (collect, not count — count builds a different
    # query) so AQE's final plan (isFinalPlan=true) is what we inspect.
    # Only the "Final Plan" section counts — the Initial Plan echo would
    # double every node.
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==", 1)[0]


def _shuffle_exchanges(plan: str) -> int:
    # AQE reuse nodes and broadcast exchanges don't count as data shuffles.
    return sum(
        1
        for line in plan.splitlines()
        if line.strip().lstrip("+-*: ").startswith("Exchange")
        and "SinglePartition" not in line  # tiny final-agg gather
    )


class TestPushdown:
    def test_q6_filters_reach_parquet_scan(self, spark, sf_dir):
        plan = _final_plan(QUERIES["q6_forecast_revenue"].fn(spark, sf_dir))
        assert "PushedFilters: [" in plan
        pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert "l_shipdate" in pushed or "l_discount" in pushed, pushed

    def test_q6_scan_prunes_columns(self, spark, sf_dir):
        plan = _final_plan(QUERIES["q6_forecast_revenue"].fn(spark, sf_dir))
        # ReadSchema must not contain columns the query never touches
        read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
        assert "l_returnflag" not in read and "l_tax" not in read, read


class TestBroadcastJoins:
    def test_q3_broadcasts_customer(self, spark, sf_dir):
        plan = _final_plan(QUERIES["q3_shipping_priority"].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, plan

    def test_q5_broadcasts_dims(self, spark, sf_dir):
        plan = _final_plan(QUERIES["q5_local_supplier_volume"].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, plan


class TestJvmOnlyHotPath:
    BENCH_RELATIONAL = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q6_forecast_revenue",
        "q18_large_orders",
        "text_token_stats",
        "text_fingerprint",
        "window_tumbling_1h",
    ]

    def test_no_python_eval_nodes(self, spark, sf_dir):
        for name in self.BENCH_RELATIONAL:
            plan = _final_plan(QUERIES[name].fn(spark, sf_dir))
            for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
                assert node not in plan, f"{name} has {node}"

    def test_whole_stage_codegen_present(self, spark, sf_dir):
        # codegen stages render as "*(n) Node" markers in the executed plan
        for name in ("q1_pricing_summary", "q6_forecast_revenue"):
            plan = _final_plan(QUERIES[name].fn(spark, sf_dir))
            assert "*(1)" in plan, name


class TestShuffleBudget:
    def test_q1_single_agg_shuffle(self, spark, sf_dir):
        """Q1: one hash-partition exchange for the groupBy; the orderBy over
        the handful of result groups may add a range exchange, nothing else."""
        plan = _final_plan(QUERIES["q1_pricing_summary"].fn(spark, sf_dir))
        assert _shuffle_exchanges(plan) <= 2, plan

    def test_q18_single_lineitem_scan(self, spark, sf_dir):
        """The HAVING aggregate is reused as the queried sum — lineitem must
        be scanned once, not twice as the literal SQL implies."""
        plan = _final_plan(QUERIES["q18_large_orders"].fn(spark, sf_dir))
        assert plan.count("lineitem.parquet") == 1, plan


class TestCurationPlans:
    """Scale contracts of the curation ops: split/sample are pure projections
    (zero Exchange); packing pays exactly one window shuffle."""

    def test_hash_split_is_shuffle_free(self, spark, sf_dir):
        from sea_streamer_spark.operators.curation import hash_split, stratified_sample
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        for df in (hash_split(docs), stratified_sample(docs, rates={"en": 0.1})):
            df.collect()
            assert _shuffle_exchanges(_final_plan(df)) == 0

    def test_pack_token_budget_single_shuffle(self, spark, sf_dir):
        from sea_streamer_spark.operators.curation import pack_token_budget
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        df = pack_token_budget(docs, budget=512)
        df.collect()
        assert _shuffle_exchanges(_final_plan(df)) == 1


class TestFanOut:
    """fan_out's contract: fan up only under-parallel inputs; never touch an
    input already at/above session parallelism (the 100 TB no-op guarantee)."""

    def test_noop_when_already_parallel(self, spark):
        target = spark.sparkContext.defaultParallelism
        from sea_streamer_spark.operators.scale import fan_out

        df = spark.range(1000).repartition(target + 4)
        assert fan_out(df) is df
        small = spark.range(1000).coalesce(1)
        assert fan_out(small).rdd.getNumPartitions() == target


class TestDistributedSinkPlans:
    """Round-2 paths: the distributed .ss write and the registered redis
    sink each pay exactly ONE data shuffle (the layout repartition)."""

    def test_write_ss_dir_single_shuffle(self, spark, sf_dir):
        from sea_streamer_spark.model import envelope_from_events
        from sea_streamer_spark.sources.tables import load_tables

        env = envelope_from_events(load_tables(spark, sf_dir, "events").events)
        arranged = env.repartition("stream_key", "shard_id").sortWithinPartitions(
            "timestamp", "stream_key", "sequence"
        )
        plan = _final_plan(arranged)
        assert _shuffle_exchanges(plan) == 1, plan
        # the sort is within partitions — no global Sort Exchange
        assert "rangepartitioning" not in plan.lower(), plan

    def test_redis_source_partitions_equal_shards(self, spark, tmp_path):
        from sea_streamer_spark.sources.redis_datasource import SeaRedisDataSource
        from sea_streamer_spark.streaming.fake_redis import FakeRedis
        from sea_streamer_spark.streaming.redis import (
            format_entry_id,
            pack_message_id,
            shard_key,
        )

        root = str(tmp_path / "broker")
        client = FakeRedis(root=root)
        for s in range(5):
            client.xadd(
                shard_key("plan", s),
                {"payload": b"x"},
                id=format_entry_id(pack_message_id(1_000, s)),
            )
        spark.dataSource.register(SeaRedisDataSource)
        df = (
            spark.read.format("sea_redis")
            .option("stream_key", "plan")
            .option("fake_root", root)
            .load()
        )
        # task-parallelism = shard-parallelism, the scale contract
        assert df.rdd.getNumPartitions() == 5


class TestQualityPlans:
    """Scale contracts of the quality gates: Gopher flags, repetition stats,
    and PII redaction are pure per-row projections — zero Exchange, no
    Python eval nodes (all JVM regexp/array lambdas)."""

    def test_quality_ops_are_shuffle_free_and_jvm_only(self, spark, sf_dir):
        from sea_streamer_spark.operators.quality import (
            gopher_quality_flags,
            pii_redact,
            repetition_stats,
        )
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        for df in (gopher_quality_flags(docs), pii_redact(docs)):
            plan = _final_plan(df)
            assert _shuffle_exchanges(plan) == 0, plan
            assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # repetition_stats fans out its heavy sort+fold projection when the
        # scan is under-parallel: at most that ONE exchange, still JVM-only.
        plan = _final_plan(repetition_stats(docs))
        assert _shuffle_exchanges(plan) <= 1, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_connected_components_rounds_scale_with_diameter(self, spark):
        """Hash-min CC on a diameter-2 graph must converge (fixpoint) and
        each round's lineage is cut — the final plan is a bounded join+agg,
        not an iteration-deep tree."""
        from sea_streamer_spark.operators.graph import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
        )
        labels = connected_components(edges)
        plan = labels._jdf.queryExecution().executedPlan().toString()
        # localCheckpoint per round => the returned frame reads a scan of
        # cached partitions, not a nested re-join of every iteration.
        assert "Scan ExistingRDD" in plan, plan


class TestMixturePlan:
    def test_mixture_resample_is_mapside_only(self, spark, sf_dir):
        """Replication = projection + explode: zero Exchange, no Python."""
        from sea_streamer_spark.operators.curation import mixture_resample
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        df = mixture_resample(docs, weights={"src0": 2.5, "src1": 0.25})
        plan = _final_plan(df)
        assert _shuffle_exchanges(plan) == 0, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestRound2QueryPlans:
    def test_sessionize_shuffles_on_user_key_only(self, spark, sf_dir):
        """Both stages hash on the user key — no global sort anywhere."""
        plan = _final_plan(QUERIES["sessionize_events"].fn(spark, sf_dir))
        assert _shuffle_exchanges(plan) <= 2, plan
        assert "rangepartitioning" not in plan.lower(), plan

    def test_hybrid_search_broadcasts_query_side(self, spark, sf_dir):
        """Recall stage joins the corpus against BROADCAST query terms and
        the re-rank crosses with a broadcast 1-row vector — the corpus is
        never shuffled to meet the query."""
        plan = _final_plan(QUERIES["hybrid_search_rerank"].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, plan
        assert "BroadcastNestedLoopJoin" in plan, plan


class TestRound3QueryPlans:
    def test_chunk_overlap_is_shuffle_free(self, spark, sf_dir):
        """Chunking is a pure projection pipeline: tokenization, the chunk
        index sequence-explode, slices and md5 never leave the row. The
        single allowed exchange is the deterministic output sort (oracle
        ordering), which a production pipeline would drop."""
        plan = _final_plan(QUERIES["curation_chunk_overlap"].fn(spark, sf_dir))
        assert _shuffle_exchanges(plan) <= 1, plan
        assert "rangepartitioning" in plan.lower(), plan  # ...and it's the sort
        assert "EvalPython" not in plan, plan

    def test_bm25_minimum_shuffles_and_broadcasts(self, spark, sf_dir):
        """Query terms + scalar stats are broadcast; tf/df/doc-agg are the
        only keyed shuffles (df is a term-window over the tf relation, NOT
        a re-derived aggregate joined back — that shape re-evaluates the
        whole explode subtree twice)."""
        plan = _final_plan(QUERIES["search_bm25_topk"].fn(spark, sf_dir))
        assert _shuffle_exchanges(plan) <= 5, plan
        assert "BroadcastExchange" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "EvalPython" not in plan, plan

    def test_tfidf_single_tf_scan(self, spark, sf_dir):
        """(doc,term) agg + term window + doc window + output sort — four
        exchanges, one pass over the exploded tokens."""
        plan = _final_plan(QUERIES["text_tfidf_topterms"].fn(spark, sf_dir))
        assert _shuffle_exchanges(plan) <= 4, plan
        assert "EvalPython" not in plan, plan

    def test_semantic_dedup_mapside_cells_no_cartesian(self, spark, sf_dir):
        """Cell assignment is a projection against broadcast centroid
        literals (never a shuffle); the candidate join is a cell equi-join,
        not an all-pairs product."""
        plan = _final_plan(QUERIES["dedup_semantic_ivf"].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "EvalPython" not in plan, plan
        assert _shuffle_exchanges(plan) <= 4, plan


class TestPostBudgetQueryPlans:
    """Round-3 post-budget registrations: the plan properties their 100 TB
    stories rest on."""

    def test_anomaly_zscore_shuffle_budget(self, spark, sf_dir):
        """One keyed count shuffle, one per-type window shuffle, the output
        sort — nothing scales with event volume past the map-side count."""
        plan = _final_plan(QUERIES["events_anomaly_zscore"].fn(spark, sf_dir))
        assert _shuffle_exchanges(plan) <= 3, plan
        assert "EvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_char_lm_model_join_is_broadcast(self, spark, sf_dir):
        """The bigram->logp model table is bounded by alphabet² — it must
        broadcast back onto the bigram stream, never shuffle it."""
        plan = _final_plan(QUERIES["quality_char_lm"].fn(spark, sf_dir))
        assert "BroadcastExchange" in plan, plan
        assert "EvalPython" not in plan, plan

    def test_span_coverage_no_pairwise_join(self, spark, sf_dir):
        """Every join is keyed by shingle or doc id — a cartesian/BNLJ here
        would mean the corpus² trap the k-gram shape exists to avoid."""
        plan = _final_plan(QUERIES["dedup_span_coverage"].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan

    def test_whiten_projection_is_map_only_plus_sort(self, spark, sf_dir):
        """Literal-model folds: the only exchange is the output ordering."""
        plan = _final_plan(QUERIES["embedding_whiten_project"].fn(spark, sf_dir))
        assert _shuffle_exchanges(plan) <= 1, plan
        assert "Join" not in plan, plan
        assert "EvalPython" not in plan, plan


class TestContinuationWaveQueryPlans:
    def test_langid_broadcast_profile_no_python(self, spark, sf_dir):
        """Trigram LID: profile relation broadcast, doc pipeline = explode
        → count → window → final agg, all JVM-side."""
        plan = _final_plan(QUERIES["text_lang_id_ngram"].fn(spark, sf_dir))
        assert "BroadcastExchange" in plan, plan
        assert "EvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_quantile_sketch_one_group_keyed_chain(self, spark, sf_dir):
        """Bottom-k build and the value-rank window both key by source —
        two group-keyed exchanges (build + rank), nothing else."""
        plan = _final_plan(QUERIES["sketch_quantile_bottomk"].fn(spark, sf_dir))
        assert _shuffle_exchanges(plan) <= 2, plan
        assert "EvalPython" not in plan, plan

    def test_skew_salted_join_has_salt_in_keys(self, spark, sf_dir):
        """The salt must actually reach the join keys (the point of the
        operator), and the replicated dim side must never nested-loop."""
        plan = _final_plan(QUERIES["join_skew_salted"].fn(spark, sf_dir))
        assert "__salt" in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "EvalPython" not in plan, plan

    def test_snapshot_diff_digests_are_mapside(self, spark, sf_dir):
        """One full-outer key join over md5 digests: no Python, no
        nested-loop, digest projection inside the scan stage."""
        plan = _final_plan(QUERIES["dataset_snapshot_diff"].fn(spark, sf_dir))
        assert "EvalPython" not in plan, plan
        assert "md5" in plan.lower(), plan
        assert "CartesianProduct" not in plan, plan

    def test_funnel_single_user_exchange(self, spark, sf_dir):
        """Three stacked conditional-min windows share ONE user-keyed
        Exchange (plus the final distinct)."""
        plan = _final_plan(QUERIES["events_funnel_stages"].fn(spark, sf_dir))
        n_user = sum(
            1
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line and "user_id" in line
        )
        assert n_user == 1, plan
        assert "EvalPython" not in plan, plan

    def test_bloom_prefilter_is_a_scan_filter(self, spark, sf_dir):
        """The membership probe must be a Filter over the fact scan (word
        array literal, bit tests), not a join; the only join left is the
        broadcast semi-join that removes false positives."""
        plan = _final_plan(QUERIES["join_bloom_prefilter"].fn(spark, sf_dir))
        assert "EvalPython" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "shiftleft" in plan.lower() or "shiftright" in plan.lower(), plan

    def test_trend_sums_single_pass(self, spark, sf_dir):
        """Centering window + final agg: two event_type-keyed exchanges at
        most, exact sums map-side combined."""
        plan = _final_plan(QUERIES["events_value_trend"].fn(spark, sf_dir))
        assert _shuffle_exchanges(plan) <= 2, plan
        assert "EvalPython" not in plan, plan

    def test_sq8_is_pure_projection(self, spark, sf_dir):
        """Quantization = zero shuffles, zero Python — the model rides as
        array literals inside the projection."""
        plan = _final_plan(QUERIES["embedding_quantize_sq8"].fn(spark, sf_dir))
        assert _shuffle_exchanges(plan) == 0, plan
        assert "EvalPython" not in plan, plan

    def test_neardup_pair_searches_never_all_pairs(self, spark, sf_dir):
        """Image dHash and audio fingerprint pairing: block equi-joins
        only — no cartesian, no nested loop (the mapInPandas stages are the
        codec decode, which IS the Python work by design)."""
        for name in ("multimodal_dhash_neardup", "multimodal_audio_neardup"):
            plan = _final_plan(QUERIES[name].fn(spark, sf_dir))
            assert "CartesianProduct" not in plan, (name, plan)
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)

    def test_global_fuse_order_is_distributed(self, spark, sf_dir):
        """stream_merge_order_fuse's global emit_index (r4 VERDICT task #2):
        the data-sized row_number window must be hash-partitioned on the
        event-time range bucket — never a one-partition window over the
        envelope. The only SinglePartition exchange allowed is the offsets
        window over the ≤ n_buckets per-bucket counts, which sits ABOVE a
        partial-count aggregate; the offsets rejoin must be broadcast."""
        plan = _final_plan(
            QUERIES["stream_merge_order_fuse"].fn(spark, sf_dir)
        )
        assert "hashpartitioning(_bucket" in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        # every SinglePartition exchange must be fed by the bucket-count
        # aggregate (tiny), not by the envelope relation
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" in line:
                below = "\n".join(lines[i : i + 4])
                assert "HashAggregate" in below and "count" in below, plan

    def test_percentile_cont_is_spillable_sort_not_buffered_agg(self, spark, sf_dir):
        """agg_percentile_cont (r4 perf-weak flag): exact percentiles via
        ONE group-keyed exchange feeding a sort-based window (disk-
        spillable), never percentile()'s in-memory per-group array
        (ObjectHashAggregate)."""
        plan = _final_plan(QUERIES["agg_percentile_cont"].fn(spark, sf_dir))
        assert "ObjectHashAggregate" not in plan, plan
        assert _shuffle_exchanges(plan) == 1, plan
        assert "Window" in plan, plan
        assert "EvalPython" not in plan, plan

    def test_round5_wave_plan_shapes(self, spark, sf_dir):
        """Round-5 additions: decayed engagement is projection + one keyed
        partial-agg shuffle; winsorize reuses the spillable percentile
        pattern (no ObjectHashAggregate) with broadcast fence rejoin;
        rolling actives is a bounded x7 explode, never an event self-join;
        salted span coverage has map-side partial counts (HashAggregate,
        not a window over raw rows) and no cartesian anywhere."""
        plan = _final_plan(QUERIES["events_decayed_engagement"].fn(spark, sf_dir))
        assert _shuffle_exchanges(plan) <= 1, plan
        assert "partial_sum" in plan or "partial" in plan.lower(), plan
        assert "EvalPython" not in plan, plan

        plan = _final_plan(QUERIES["quality_winsorize"].fn(spark, sf_dir))
        assert "ObjectHashAggregate" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "EvalPython" not in plan, plan

        plan = _final_plan(QUERIES["events_rolling_7d_actives"].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "EvalPython" not in plan, plan

        plan = _final_plan(QUERIES["dedup_span_coverage_salted"].fn(spark, sf_dir))
        assert "partial_count" in plan, plan  # map-side combine pre-shuffle
        assert "CartesianProduct" not in plan, plan
        assert "EvalPython" not in plan, plan


class TestFanOutParallelism:
    """Round-5 perf wave: explode/decode parallelism must not inherit a
    small scan's split count (all sf parquet is ONE row group ⇒ one task),
    and the fan-out must survive AQE's bytes-based coalescing (an explicit
    partition count — repartition("key") alone gets folded back to one
    partition because the PRE-explode relation is tiny)."""

    def test_langid_single_data_exchange_and_fanned(self, spark, sf_dir):
        """lang_id_ngram: exactly one data exchange (the pre-explode
        fan-out, plus at most a gather for the tiny result) — the (id,gram)
        groupBy, doc rank window, and distance agg all ride
        HashPartitioning(_id); the rank filter plans as WindowGroupLimit."""
        df = QUERIES["text_lang_id_ngram"].fn(spark, sf_dir)
        plan = _final_plan(df)
        assert _shuffle_exchanges(plan) <= 2, plan
        assert "WindowGroupLimit" in plan, plan
        assert df.rdd.getNumPartitions() > 1, "explode chain not fanned out"

    def test_multimodal_python_chain_is_fanned(self, spark, sf_dir):
        """Every mapInPandas stage enters through _fan: with a one-split
        scan the decode chain must still run on >1 partition."""
        from sea_streamer_spark.operators import multimodal as M
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        png = M.synthesize_png(docs, width=18, height=14)
        assert png.rdd.getNumPartitions() > 1, "synthesize_png not fanned"
        dh = M.dhash_png(M.resize_png(png, width=9, height=7).select("doc_id", "payload"))
        assert dh.rdd.getNumPartitions() > 1, "decode chain lost fan-out"

    def test_dsir_feature_explode_is_fanned(self, spark, sf_dir):
        from sea_streamer_spark.operators.selection import hashed_ngram_buckets
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        assert hashed_ngram_buckets(docs).rdd.getNumPartitions() > 1

    def test_pagerank_loop_is_graph_sized(self, spark, sf_dir):
        """pagerank_fixed iterates the active subgraph: the per-round score
        relation must not be the corpus — the documents scan appears in the
        plan only for the active-set carve and the isolated-floor emit (the
        round relations are checkpointed RDD scans)."""
        from sea_streamer_spark.operators.graph import pagerank_fixed
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        pairs = docs.limit(0).selectExpr(
            "doc_id as doc_a", "doc_id + 1 as doc_b"
        )
        out = pagerank_fixed(docs.select("doc_id"), pairs, iters=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # all-isolated graph: the result must still be corpus-complete
        assert out.count() == docs.count()
        assert plan.count("documents.parquet") <= 2, plan


class TestLlmOps8QueryPlans:
    """Round-5 llm_ops8 waves: the plan properties their 100 TB stories
    rest on."""

    def test_rfm_is_two_keyed_aggs_no_window(self, spark, sf_dir):
        """Fixed-threshold banding must stay a pure projection between the
        user-keyed agg and the tiny segment agg — a Window node here would
        mean somebody reintroduced global-quantile scoring."""
        plan = _final_plan(QUERIES["events_rfm_segments"].fn(spark, sf_dir))
        assert "Window" not in plan, plan
        assert _shuffle_exchanges(plan) <= 3, plan
        assert "EvalPython" not in plan, plan

    def test_outlier_centroid_distance_is_map_only(self, spark, sf_dir):
        """After the d-row centroid literal is embedded, the distance pass
        must be scan → project → TakeOrdered: no join (the centroid is a
        literal, not a relation) and no Python eval."""
        plan = _final_plan(
            QUERIES["embedding_outlier_centroid"].fn(spark, sf_dir)
        )
        assert "Join" not in plan, plan
        assert "EvalPython" not in plan, plan
        assert "TakeOrderedAndProject" in plan, plan

    def test_last_touch_single_user_window(self, spark, sf_dir):
        """One user-keyed window shuffle + the tiny type agg; attribution
        must not self-join the events table."""
        plan = _final_plan(
            QUERIES["events_last_touch_attribution"].fn(spark, sf_dir)
        )
        assert plan.count("events.parquet") == 1, plan
        assert "Join" not in plan, plan
        assert "EvalPython" not in plan, plan

    def test_token_budget_single_source_window(self, spark, sf_dir):
        """Running sum and rank ride ONE source-keyed window shuffle; the
        only other exchange is the output ordering."""
        plan = _final_plan(
            QUERIES["curation_token_budget_mixture"].fn(spark, sf_dir)
        )
        assert _shuffle_exchanges(plan) <= 2, plan
        assert "Join" not in plan, plan
        assert "EvalPython" not in plan, plan

    def test_containment_no_pairwise_explosion(self, spark, sf_dir):
        """Candidates come from the shingle equi-join only — cartesian or
        BNLJ here is the corpus² trap."""
        plan = _final_plan(
            QUERIES["text_containment_pairs"].fn(spark, sf_dir)
        )
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "EvalPython" not in plan, plan


class TestRound8Waves:
    def test_unigram_apply_is_broadcast_join_no_python(self, spark, sf_dir):
        """The Viterbi DP rides the distinct-word relation behind a
        BroadcastExchange; the corpus side never shuffles words to meet
        the vocabulary, and nothing drops to Python."""
        plan = _final_plan(
            QUERIES["tokenizer_unigram_token_counts"].fn(spark, sf_dir)
        )
        assert "BroadcastHashJoin" in plan, plan
        assert "EvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_family_compare_shared_word_table(self, spark, sf_dir):
        """All four tokenizers ride ONE distinct-word relation: exactly
        two corpus tokenizes (the occ explode + the deliberately-accepted
        text-only distinct branch — see the query comment), ONE broadcast
        of the word table, and zero Python nodes. A third Generate means
        an apply path started re-tokenizing the corpus."""
        plan = _final_plan(
            QUERIES["tokenizer_family_compare"].fn(spark, sf_dir)
        )
        generates = [
            ln for ln in plan.splitlines() if "Generate explode" in ln
        ]
        assert len(generates) == 2, plan
        assert "EvalPython" not in plan, plan

    def test_winnowing_hashes_before_window_explode(self, spark, sf_dir):
        """The per-position hash must come from the composed token fold
        (r13: positional_shingle_hashes — shingle strings never built on
        this path), and the per-window selection must stay the
        frame-bounded window MIN (r12) — no ×W explode fan-out, no
        (doc, e)-keyed re-aggregation shuffle: exactly two Generates (the
        one-element barrier that materializes the token-hash arrays, then
        the hash posexplode) and a Window whose min() consumes the
        already-encoded long. A concat in the plan means the string
        shingle build crept back in."""
        plan = _final_plan(
            QUERIES["text_winnowing_fingerprints"].fn(spark, sf_dir)
        )
        gens = [ln for ln in plan.splitlines() if "Generate" in ln]
        assert len(gens) == 2, plan
        assert "Window" in plan, plan
        win_lines = [ln for ln in plan.splitlines() if "min(enc" in ln]
        assert win_lines, plan
        assert all("aggregate(" not in ln for ln in win_lines), plan
        assert "EvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_winnowing_pairs_equi_join_only(self, spark, sf_dir):
        plan = _final_plan(QUERIES["dedup_winnowing_pairs"].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "EvalPython" not in plan, plan

    def test_packing_ctx_explode_after_prefix_sum(self, spark, sf_dir):
        """The ×3 context-length crossJoin must be a broadcast against the
        narrow post-window relation — never an exchange of the corpus."""
        plan = _final_plan(
            QUERIES["curation_packing_efficiency"].fn(spark, sf_dir)
        )
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
        assert "EvalPython" not in plan, plan

    def test_kn_scoring_is_keyed_joins_no_global_sort(self, spark, sf_dir):
        """Scoring is LEFT equi-joins from the position relation; the only
        orderBy is the output's doc_id sort."""
        plan = _final_plan(
            QUERIES["quality_kneser_ney_bigram"].fn(spark, sf_dir)
        )
        assert "CartesianProduct" not in plan, plan
        assert "EvalPython" not in plan, plan

    def test_rocchio_query_side_broadcast(self, spark, sf_dir):
        """Every query-side relation (terms, feedback ids, expansion
        terms) meets the corpus through broadcast joins — the corpus is
        never shuffled to co-locate with the bounded side."""
        plan = _final_plan(QUERIES["search_rocchio_expand"].fn(spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= 3, plan
        assert "CartesianProduct" not in plan, plan
        assert "EvalPython" not in plan, plan


class TestRound9Session2Plans:
    """Plan contracts for the round-9 session-2 waves: the shapes their
    100 TB stories rest on (the value pins live in test_llm_ops13)."""

    def test_ohlc_two_shuffles(self, spark, sf_dir):
        """Both ROW_NUMBER windows and the final aggregate share the
        (event_type, hour) keys — one hash exchange feeds all three;
        the only other exchange is the deterministic output sort."""
        plan = _final_plan(QUERIES["window_ohlc_hourly"].fn(spark, sf_dir))
        assert _shuffle_exchanges(plan) <= 2, plan
        assert "EvalPython" not in plan, plan

    def test_twap_two_shuffles(self, spark, sf_dir):
        """One keyed LEAD window + the per-type aggregate reuse the
        event_type exchange; plus the output sort."""
        plan = _final_plan(QUERIES["events_twap_by_type"].fn(spark, sf_dir))
        assert _shuffle_exchanges(plan) <= 2, plan
        assert "EvalPython" not in plan, plan

    def test_burstiness_single_scan_takeordered(self, spark, sf_dir):
        """One tokenize explode feeds the (doc, word) aggregate; the
        corpus count rides a broadcast; top-k is a TakeOrdered."""
        plan = _final_plan(QUERIES["text_word_burstiness"].fn(spark, sf_dir))
        assert plan.count("documents.parquet") <= 2, plan
        assert "TakeOrderedAndProject" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "EvalPython" not in plan, plan

    def test_theil_broadcasts_dims(self, spark, sf_dir):
        """Nation and the per-nation moment rollup are broadcast; the
        order-grain relation is never shuffled to meet a dimension."""
        plan = _final_plan(
            QUERIES["agg_theil_index_by_nation"].fn(spark, sf_dir)
        )
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "EvalPython" not in plan, plan

    def test_cdc_chunking_no_python_single_scan(self, spark, sf_dir):
        """The rolling-hash boundary scan is a JVM higher-order filter;
        chunk extraction is explode + one doc-keyed lag window."""
        plan = _final_plan(QUERIES["dedup_cdc_chunking"].fn(spark, sf_dir))
        assert "EvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_cdc_codes_built_once_below_barrier(self, spark, sf_dir):
        """r12: the per-doc int codes array must be materialized in a
        Project BELOW the Generate barrier, and the per-position boundary
        lambda must read `codes` attributes only — if project-collapse
        ever re-inlines the codes build into the lambda (the O(n²) trap),
        `transform(split(` shows up inside the filter lambda's Generate."""
        plan = _final_plan(QUERIES["dedup_cdc_chunking"].fn(spark, sf_dir))
        # the codes build appears exactly once, in a Project, not in the
        # boundary Generate's filter lambda
        assert plan.count("transform(split(") == 1, plan
        lam_lines = [
            ln for ln in plan.splitlines() if "filter(sequence(" in ln
        ]
        assert lam_lines, plan
        assert all(
            "transform(split(" not in ln for ln in lam_lines
        ), plan

    def test_anisotropy_no_pairwise(self, spark, sf_dir):
        """THE point of the identity form: no join of the embedding
        table against itself anywhere — one projection, one d-row
        aggregate."""
        plan = _final_plan(
            QUERIES["embedding_anisotropy_audit"].fn(spark, sf_dir)
        )
        assert plan.count("embeddings.parquet") == 1, plan
        assert "CartesianProduct" not in plan, plan
        assert "EvalPython" not in plan, plan

    def test_bitmask_no_windows_after_agg(self, spark, sf_dir):
        """The streak is computed by bit arithmetic on the mask column —
        projections only after the per-user aggregate (no second
        window pass)."""
        plan = _final_plan(
            QUERIES["events_user_day_bitmask"].fn(spark, sf_dir)
        )
        assert "EvalPython" not in plan, plan
        assert plan.count("Window") <= 1, plan  # the sort is rangepart., not a window


class TestRound10Plans:
    """Round-10 waves: the plan properties the SemDeDup scale posture
    rests on."""

    def test_scaled_semantic_cluster_cell_keyed_broadcast(self, spark, sf_dir):
        """The scale-aware variant keeps the fixed query's shape at every
        rung: assignment is a map-side argmax projection, the centroid
        cosine rides a broadcast join, and the dedup candidate join is a
        cell equi-join — never a product, never Python."""
        plan = _final_plan(
            QUERIES["dedup_semantic_cluster_scaled"].fn(spark, sf_dir)
        )
        assert "BroadcastExchange" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "EvalPython" not in plan, plan

    def test_cell_sweep_counting_side_keyed_joins_only(self, spark, sf_dir):
        """The sweep's recall numerator joins truth pairs to the cell
        assignment on vec_id twice — keyed equi-joins only (the all-pairs
        part of the query lives in the tile-sweep truth side, never in a
        JVM join)."""
        from pyspark.sql import functions as F

        from sea_streamer_spark.operators import similarity as S
        from sea_streamer_spark.plans.fragments import gate_ivf_centroids
        from sea_streamer_spark.plans.semantic_dedup import _sweep_colocated
        from sea_streamer_spark.sources.tables import load_tables

        emb = load_tables(spark, sf_dir, "embeddings").embeddings
        truth = S.exact_cosine_pairs(emb, 0.45).select(
            F.col("id_a").alias("va"), F.col("id_b").alias("vb")
        )
        cells = emb.select(
            "vec_id",
            S.ivf_cell_expr(gate_ivf_centroids(n_cells=16)).alias("cell"),
        )
        plan = _final_plan(_sweep_colocated(truth, cells))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan

    def test_pii_audit_single_scan_no_python(self, spark, sf_dir):
        """Detection is per-byte map-side JVM regexp: one documents scan,
        one keyed aggregate, the output sort — and zero Python."""
        plan = _final_plan(QUERIES["privacy_pii_audit"].fn(spark, sf_dir))
        assert plan.count("documents.parquet") == 1, plan
        assert "EvalPython" not in plan, plan
        assert _shuffle_exchanges(plan) <= 2, plan

    def test_pii_redaction_single_scan_no_python(self, spark, sf_dir):
        """The redaction chain + re-detection stays one projection over
        one scan (text never crosses a shuffle; only per-source counts
        do)."""
        plan = _final_plan(
            QUERIES["privacy_pii_redact_roundtrip"].fn(spark, sf_dir)
        )
        assert plan.count("documents.parquet") == 1, plan
        assert "EvalPython" not in plan, plan
        assert _shuffle_exchanges(plan) <= 2, plan


class TestRound11Plans:
    """Round-11 waves: hub-cap measurement, planted recall, e2e funnel."""

    def test_aa_hubcapped_one_wedge_join_no_python(self, spark, sf_dir):
        """Both AA sums (uncapped + capped) come out of ONE keyed
        aggregate over ONE wedge join; the scalar tail is broadcast
        crossJoins — no cartesian on data, no Python anywhere."""
        plan = _final_plan(
            QUERIES["graph_adamic_adar_hubcapped"].fn(spark, sf_dir)
        )
        assert "EvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        # the two broadcast single-row combiners are nested-loop by
        # construction (they join 1-row relations); data-sized joins are
        # all hash joins — pin by counting wedge-side SortMergeJoin /
        # ShuffledHashJoin + BroadcastHashJoin presence instead of
        # banning BNLJ outright
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan

    def test_planted_sweep_counting_side_keyed_joins_only(self, spark, sf_dir):
        """The planted corpus derivation is a union of projections (no
        join, no Python — F.transform is JVM higher-order-function
        territory), and the sweep's counting side stays vec_id/cell
        equi-joins."""
        from sea_streamer_spark.plans.semantic_dedup import planted_embeddings

        plan = _final_plan(planted_embeddings(spark, sf_dir))
        assert "EvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert _shuffle_exchanges(plan) == 0, plan

    def test_e2e_pipeline_no_python_no_cartesian_bounded_shuffles(
        self, spark, sf_dir
    ):
        """The e2e funnel's plan promise (r10 VERDICT task #5): zero
        Python eval, zero cartesian products, and the shuffle count
        stays bounded by the stage structure (md5 window + cluster
        window + the embedded registered stages + source aggregate),
        not by data volume."""
        plan = _final_plan(
            QUERIES["curation_e2e_pipeline"].fn(spark, sf_dir)
        )
        assert "EvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        # stage-structure bound, generous but fixed: the funnel may not
        # grow a shuffle per row/partition anywhere
        assert _shuffle_exchanges(plan) <= 24, plan


class TestRound12Plans:
    """Round-12 waves: streaming curation e2e."""

    def test_streaming_e2e_funnel_no_python_no_cartesian(self, spark, sf_dir):
        """The streamed row's returned plan = flags-state scan + the
        SHARED funnel tail: zero Python eval, zero cartesian, the same
        stage-structure shuffle bound as the batch row — and the
        per-micro-batch front (window claim + state equi-join) is pinned
        separately below."""
        plan = _final_plan(
            QUERIES["curation_streaming_e2e"].fn(spark, sf_dir)
        )
        assert "EvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert _shuffle_exchanges(plan) <= 24, plan

    def test_incremental_dedup_batch_front_shape(self, spark, tmp_path):
        """One micro-batch body's plan: exactly one window shuffle (the
        within-batch claim) + one equi-join against the column-pruned
        state keys — no Python, no cartesian, and the state read prunes
        to the key column."""
        import os

        from pyspark.sql import functions as F

        from sea_streamer_spark.plans.dedup_curation import _stream_transform
        from sea_streamer_spark.sources.tables import load_tables
        from sea_streamer_spark.streaming.curation import (
            incremental_exact_dedup_sink,
        )
        from sea_streamer_spark.operators.pii import pii_injected_col

        docs = load_tables(spark, "/root/testdata/sf0.001", "documents").documents
        staged = _stream_transform(
            docs.select("doc_id", "source", pii_injected_col().alias("text"))
        )
        flags_dir = str(tmp_path / "flags")
        os.makedirs(flags_dir)
        sink = incremental_exact_dedup_sink(flags_dir)
        sink(staged.filter(F.col("doc_id") < 250), 0)
        # second batch probes batch-0 state: capture ITS read plan by
        # rebuilding the same dataframe the sink writes
        from pyspark.sql.window import Window

        batch = staged.filter(F.col("doc_id") >= 250)
        claimed = batch.withColumn(
            "__claim",
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("dedup_key")),
        )
        seen = (
            spark.read.option("basePath", flags_dir)
            .parquet(os.path.join(flags_dir, "batch_id=0"))
            .select("dedup_key")
            .distinct()
            .withColumn("__seen", F.lit(True))
        )
        out = claimed.join(seen, "dedup_key", "left").select(
            "doc_id",
            "source",
            "had_pii",
            "dedup_key",
            (F.col("__claim") & F.col("__seen").isNull()).alias("keep"),
        )
        plan = _final_plan(out)
        assert "EvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        # state scan reads ONLY the key column
        import re

        scans = [
            ln
            for ln in plan.splitlines()
            if "FileScan parquet [dedup_key" in ln
        ]
        assert scans and all(
            re.search(r"ReadSchema: struct<dedup_key:string>", ln)
            for ln in scans
        ), plan

    _R12_ROWS = (
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
    )

    def test_round12_rows_no_python_no_cartesian(self, spark, sf_dir):
        """Every round-12 analytic row stays JVM-side with no cartesian
        on data relations (broadcast single-row combiners excepted, as
        everywhere in the registry)."""
        for name in self._R12_ROWS:
            plan = _final_plan(QUERIES[name].fn(spark, sf_dir))
            assert "EvalPython" not in plan, (name, plan)
            assert "CartesianProduct" not in plan, (name, plan)
