"""Streaming behavior tests mirroring the reference's integration suite
(SURVEY §5): loopback produce→consume, resumable groups, seek/rewind,
shard assignment — over the file replay backend with availableNow triggers
(the stdio-loopback analog: no broker needed)."""

import pytest

from pyspark.sql import functions as F

from sea_streamer_spark.model import envelope_from_events
from sea_streamer_spark.sources.tables import load_tables
from sea_streamer_spark.streaming import (
    Consumer,
    ConsumerMode,
    ConsumerOptions,
    create_consumer,
    create_producer,
)
from sea_streamer_spark.streaming.consumer import Beginning
from sea_streamer_spark.streaming.redis import (
    format_entry_id,
    next_after,
    pack_message_id,
    parse_entry_id,
    shard_key,
    unpack_message_id,
)


@pytest.fixture()
def env_batch(spark, sf_dir):
    return envelope_from_events(load_tables(spark, sf_dir, "events").events)


class TestLoopback:
    """stdio/tests/loopback.rs analog: produce to a stream dir, consume it."""

    def test_produce_consume_roundtrip(self, spark, env_batch, tmp_path):
        stream_dir = str(tmp_path / "stream")
        producer = create_producer(spark, f"file://{stream_dir}/")
        producer.send_batch(env_batch.limit(200))

        consumer = create_consumer(
            spark,
            f"file://{stream_dir}/",
            ConsumerOptions(mode=ConsumerMode.RealTime),
        )
        consumer.start_to_memory("loopback_q")
        got = spark.sql("SELECT COUNT(*) AS n FROM loopback_q").collect()[0].n
        assert got == 200

    def test_anchored_producer_fills_key(self, spark, env_batch, tmp_path):
        stream_dir = str(tmp_path / "anchored")
        producer = create_producer(spark, f"file://{stream_dir}/topic-x")
        # drop stream_key: the anchor must supply it (producer.rs:52-66)
        df = env_batch.limit(10).drop("stream_key")
        producer.send_batch(df)
        back = spark.read.parquet(stream_dir)
        keys = {r.stream_key for r in back.select("stream_key").distinct().collect()}
        assert keys == {"topic-x"}


class TestResumable:
    """redis/tests/resumable.rs analog: a Resumable consumer continues from
    its checkpoint; already-seen data is not redelivered (D2)."""

    def test_resume_after_restart(self, spark, env_batch, tmp_path):
        stream_dir = str(tmp_path / "stream")
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")
        first = env_batch.filter(F.col("sequence") < 100)
        second = env_batch.filter((F.col("sequence") >= 100) & (F.col("sequence") < 250))
        producer = create_producer(spark, f"file://{stream_dir}/")
        producer.send_batch(first)

        opts = ConsumerOptions(mode=ConsumerMode.Resumable, checkpoint_dir=ckpt)
        c1 = create_consumer(spark, f"file://{stream_dir}/", opts)
        c1.start_to_parquet(out)
        n1 = spark.read.parquet(out).count()
        assert n1 == first.count()

        # "restart": produce more, run a new query on the same checkpoint —
        # exactly-once: total output = union of both batches, no duplicates
        producer.send_batch(second)
        c2 = create_consumer(spark, f"file://{stream_dir}/", opts)
        c2.start_to_parquet(out)
        result = spark.read.parquet(out)
        assert result.count() == first.count() + second.count()
        assert result.select("sequence").distinct().count() == result.count()


class TestSeekRewindAssign:
    """redis/tests/seek-rewind.rs analog over bounded replay."""

    def _consumer(self, spark, env_batch, tmp_path, name) -> Consumer:
        stream_dir = str(tmp_path / name)
        create_producer(spark, f"file://{stream_dir}/").send_batch(env_batch)
        return create_consumer(spark, f"file://{stream_dir}/")

    def test_seek_timestamp_exclusive(self, spark, env_batch, tmp_path):
        c = self._consumer(spark, env_batch, tmp_path, "seek")
        boundary = env_batch.filter(F.col("sequence") == 29).collect()[0].timestamp
        c2 = c.seek(boundary)
        c2.start_to_memory("seek_q")
        got = spark.sql("SELECT MIN(timestamp) AS t FROM seek_q").collect()[0].t
        assert got > boundary  # strictly later (messages.rs:262-279)

    def test_rewind_at_inclusive(self, spark, env_batch, tmp_path):
        c = self._consumer(spark, env_batch, tmp_path, "rewind")
        c.rewind(500).start_to_memory("rewind_q")
        mn = spark.sql("SELECT MIN(sequence) AS s FROM rewind_q").collect()[0].s
        assert mn == 500  # inclusive (consumer.rs:69-75)

    def test_rewind_beginning(self, spark, env_batch, tmp_path):
        c = self._consumer(spark, env_batch, tmp_path, "rewind_b")
        c.rewind(Beginning).start_to_memory("rewind_b_q")
        n = spark.sql("SELECT COUNT(*) AS n FROM rewind_b_q").collect()[0].n
        assert n == env_batch.count()

    def test_assign_shard(self, spark, env_batch, tmp_path):
        c = self._consumer(spark, env_batch, tmp_path, "assign")
        c.assign(1, 2).start_to_memory("assign_q")
        shards = {r.shard_id for r in spark.sql("SELECT DISTINCT shard_id FROM assign_q").collect()}
        assert shards == {1, 2}

    def test_reassign_all_shards_file(self, spark, env_batch, tmp_path):
        """T4 (kafka/src/consumer.rs:426-452): after narrowing to one
        shard, reassign() fetches shard metadata and restores ALL of
        them — discovery reads the log's distinct shard ids."""
        c = self._consumer(spark, env_batch, tmp_path, "reassign")
        all_shards = {r.shard_id for r in env_batch.select("shard_id").distinct().collect()}
        narrowed = c.assign(1)
        assert narrowed.discover_shards() == sorted(all_shards)
        narrowed.reassign().start_to_memory("reassign_q")
        got = {r.shard_id for r in spark.sql("SELECT DISTINCT shard_id FROM reassign_q").collect()}
        assert got == all_shards

    def test_reassign_all_shards_redis(self, spark, tmp_path):
        """T4 over the redis backend: discovery is the SCAN sub-stream
        enumeration (H4), so shards created after the narrow are found."""
        from sea_streamer_spark.streaming.fake_redis import FakeRedis
        from sea_streamer_spark.streaming.redis import shard_key

        root = str(tmp_path / "broker")
        broker = FakeRedis(root=root)
        for shard in (0, 1, 2):
            for i in range(3):
                broker.xadd(shard_key("ev", shard), {b"v": str(i).encode()})
        c = create_consumer(spark, f"redis+fake://{root}/ev").assign(0)
        assert c.discover_shards() == [0, 1, 2]
        assert c.reassign().options.assigned_shards == (0, 1, 2)

    def test_seek_latch_on_running_query(self, spark, env_batch, tmp_path):
        """T5: re-seek a live (processingTime) query. The latch guarantee —
        nothing at-or-before the seek position is delivered *after* the
        seek returns — holds because stop() bounds the old query at a
        batch boundary and the restarted query filters every batch."""
        c = self._consumer(spark, env_batch, tmp_path, "latch")
        q1 = (
            c.dataframe()
            .writeStream.format("memory")
            .queryName("latch_pre")
            .trigger(processingTime="1 second")
            .start()
        )
        q1.processAllAvailable()  # the query is live and has delivered
        boundary = env_batch.filter(F.col("sequence") == 29).collect()[0].timestamp
        c2 = c.seek_running(q1, boundary)
        assert not q1.isActive  # the latch: old delivery stream is closed
        c2.start_to_memory("latch_post")
        post = spark.sql("SELECT MIN(timestamp) AS t, COUNT(*) AS n FROM latch_post").collect()[0]
        assert post.t > boundary  # zero stale messages after the seek
        expected = env_batch.filter(F.col("timestamp") > F.lit(boundary)).count()
        assert post.n == expected

    def test_stream_key_subscription(self, spark, env_batch, tmp_path):
        stream_dir = str(tmp_path / "sub")
        create_producer(spark, f"file://{stream_dir}/").send_batch(env_batch)
        c = create_consumer(spark, f"file://{stream_dir}/click,error")
        c.start_to_memory("sub_q")
        keys = {r.stream_key for r in spark.sql("SELECT DISTINCT stream_key FROM sub_q").collect()}
        assert keys == {"click", "error"}


class TestFuseStreaming:
    """fuse/src/lib.rs:196-314 analog: watermarked union emits in event-time
    order within each micro-batch."""

    def test_merge_order_within_batch(self, spark, env_batch, tmp_path):
        from sea_streamer_spark.operators.fuse import mux, stream_join_batch

        a = env_batch.filter(F.col("stream_key") == "click").limit(50)
        b = env_batch.filter(F.col("stream_key") == "error").limit(50)
        merged = stream_join_batch(mux(a, b))
        rows = merged.orderBy("emit_index").collect()
        ts = [r.timestamp for r in rows]
        assert ts == sorted(ts)
        # tie-break by key name on equal timestamps (lib.rs:71-89)
        for r1, r2 in zip(rows, rows[1:]):
            if r1.timestamp == r2.timestamp:
                assert r1.stream_key <= r2.stream_key

    def test_align_gating(self, spark, env_batch):
        from sea_streamer_spark.operators.fuse import stream_join_batch

        env = env_batch.filter(F.col("stream_key").isin("click", "error", "view"))
        # gate on the slowest of click/error: nothing after its max ts is emitted
        gated = stream_join_batch(env, align=["click", "error"])
        gate_ts = (
            env.filter(F.col("stream_key").isin("click", "error"))
            .groupBy("stream_key")
            .agg(F.max("timestamp").alias("mx"))
            .agg(F.min("mx").alias("gate"))
            .collect()[0]
            .gate
        )
        assert gated.agg(F.max("timestamp")).collect()[0][0] <= gate_ts
        held_back = env.filter(F.col("timestamp") > gate_ts).count()
        assert held_back > 0  # the gate actually held something back

    def test_align_gate_holds_all_when_peer_absent(self, spark, env_batch):
        """fuse/src/lib.rs check(): every aligned buffer must be non-empty —
        an aligned stream with zero input rows holds back EVERYTHING (the
        stateful path does the same via gate=None)."""
        from sea_streamer_spark.operators.fuse import stream_join, stream_join_batch

        env = env_batch.filter(F.col("stream_key").isin("click", "error"))
        missing = stream_join_batch(env, align=["click", "no_such_stream"])
        assert missing.count() == 0
        assert stream_join(env, align=["click", "no_such_stream"]).count() == 0

    def test_sharded_default_align_and_order(self, spark, env_batch):
        from sea_streamer_spark.operators.fuse import stream_join

        env = env_batch.filter(F.col("stream_key").isin("click", "error"))
        merged = stream_join(env, align=["click", "error"])  # default: sharded
        rows = merged.collect()
        assert len(rows) > 0
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r.shard_id, []).append(r)
        for shard_rows in by_shard.values():
            shard_rows.sort(key=lambda r: r.emit_index)
            assert [r.emit_index for r in shard_rows] == list(
                range(1, len(shard_rows) + 1)
            )
            keys = [(r.timestamp, r.stream_key, r.sequence) for r in shard_rows]
            assert keys == sorted(keys)  # per-shard merge order


class TestRedisOffsetModel:
    """redis/src/message.rs:27-88 vectors."""

    def test_pack_unpack(self):
        seq_no = pack_message_id(1694767177912, 7)
        assert unpack_message_id(seq_no) == (1694767177912, 7)
        assert format_entry_id(seq_no) == "1694767177912-7"
        assert parse_entry_id("1694767177912-7") == seq_no

    def test_capacity_limits(self):
        # ≤65,536 msgs/ms; 48-bit ms (max ts year 10889)
        with pytest.raises(ValueError):
            pack_message_id(1, 0x10000)
        with pytest.raises(ValueError):
            pack_message_id(1 << 48, 0)

    def test_next_after_carries(self):
        assert next_after(pack_message_id(5, 0xFFFF)) == pack_message_id(6, 0)
        assert next_after(pack_message_id(5, 3)) == pack_message_id(5, 4)

    def test_shard_key(self):
        assert shard_key("events", 0) == "events"
        assert shard_key("events", 3) == "events:3"


class TestRelayBenchmark:
    """benchmark/README.md workload analog (produce/relay/consume phases)."""

    def test_roundtrip_preserves_messages(self, spark, tmp_path):
        from sea_streamer_spark.streaming.relay import benchmark_relay, synth_messages

        timings = benchmark_relay(spark, str(tmp_path), n=1000, payload_bytes=64)
        assert set(timings) == {
            "streaming_produce_100k",
            "streaming_relay_100k",
            "streaming_consume_100k",
        }
        assert all(t > 0 for t in timings.values())
        # the relayed copy is byte-identical to the source log
        src = spark.read.parquet(str(tmp_path / "src"))
        dst = spark.read.parquet(str(tmp_path / "dst"))
        assert src.count() == dst.count() == 1000
        assert src.exceptAll(dst).count() == 0

    def test_synth_payload_size(self, spark):
        from pyspark.sql import functions as F

        from sea_streamer_spark.streaming.relay import synth_messages

        df = synth_messages(spark, 10, payload_bytes=256)
        rows = df.agg(F.min(F.length("payload")), F.max(F.length("payload"))).collect()[0]
        assert rows[0] == rows[1] == 256


class TestStatefulStreamJoin:
    """fuse/src/lib.rs:66-100 align-gating, stateful path across micro-batches."""

    def test_align_gate_across_microbatches(self, spark, tmp_path):
        import pandas as pd
        from pyspark.sql import functions as F

        from sea_streamer_spark.operators.fuse import stream_join_stateful

        # 3 keys x 2 shards, ts = sequence seconds; delivered as 3 files
        # (one micro-batch each via maxFilesPerTrigger=1).
        rows = []
        for seq in range(30):
            key = "abc"[seq % 3]
            rows.append((key, seq % 2, seq, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=seq), b"p"))
        pdf = pd.DataFrame(rows, columns=["stream_key", "shard_id", "sequence", "timestamp", "payload"])
        src = tmp_path / "src"
        for i in range(3):  # batch i carries seqs [10i, 10i+10) — arrival in ts order
            chunk = spark.createDataFrame(pdf.iloc[10 * i: 10 * i + 10])
            chunk.coalesce(1).write.mode("append").parquet(str(src))

        from sea_streamer_spark.model import MESSAGE_SCHEMA

        stream = (
            spark.readStream.schema(MESSAGE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = stream_join_stateful(stream, align=["a", "b"])
        q = (
            out.writeStream.format("memory")
            .queryName("fuse_stateful")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.sql("SELECT * FROM fuse_stateful").toPandas()

        # expected: per shard, final gate = min(max ts of a, max ts of b)
        for shard in (0, 1):
            sh = pdf[pdf.shard_id == shard]
            gate = min(
                sh[sh.stream_key == "a"].timestamp.max(),
                sh[sh.stream_key == "b"].timestamp.max(),
            )
            expect = sh[sh.timestamp <= gate]
            g = got[got.shard_id == shard].sort_values("emit_index")
            assert set(g.sequence) == set(expect.sequence), f"shard {shard}"
            # emission order is the merge order: ts monotone along emit_index
            assert g.timestamp.is_monotonic_increasing
            assert list(g.emit_index) == list(range(1, len(g) + 1))

    def test_unaligned_emits_everything(self, spark, tmp_path):
        import pandas as pd

        from sea_streamer_spark.model import MESSAGE_SCHEMA
        from sea_streamer_spark.operators.fuse import stream_join_stateful

        pdf = pd.DataFrame(
            [("x", 0, i, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=i), b"") for i in range(7)],
            columns=["stream_key", "shard_id", "sequence", "timestamp", "payload"],
        )
        src = tmp_path / "src2"
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src))
        stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(str(src))
        q = (
            stream_join_stateful(stream)
            .writeStream.format("memory")
            .queryName("fuse_stateful_all")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.sql("SELECT * FROM fuse_stateful_all").toPandas()
        assert len(got) == 7 and sorted(got.sequence) == list(range(7))

    def test_state_guard_fails_loud_on_stalled_peer(self, spark, tmp_path):
        """A stalled aligned peer must not grow state silently: over
        max_buffer_rows the query fails naming the absent stream."""
        import pandas as pd

        from sea_streamer_spark.model import MESSAGE_SCHEMA
        from sea_streamer_spark.operators.fuse import stream_join_stateful

        pdf = pd.DataFrame(
            [("x", 0, i, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=i), b"") for i in range(50)],
            columns=["stream_key", "shard_id", "sequence", "timestamp", "payload"],
        )
        src = tmp_path / "src3"
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src))
        stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(str(src))
        # align on a stream that never produces -> everything buffers
        q = (
            stream_join_stateful(stream, align=["x", "never"], max_buffer_rows=20)
            .writeStream.format("memory")
            .queryName("fuse_stateful_guard")
            .option("checkpointLocation", str(tmp_path / "ckpt3"))
            .trigger(availableNow=True)
            .start()
        )
        import pyspark.errors

        with pytest.raises(pyspark.errors.exceptions.captured.StreamingQueryException) as ei:
            q.awaitTermination()
        assert "never" in str(ei.value) and "max_buffer_rows" in str(ei.value)


class TestWatermarkStreaming:
    """Late-data semantics: watermarked windowed aggregation (append mode only
    emits closed windows) and dropDuplicatesWithinWatermark."""

    def _stream(self, spark, src, files):
        import pandas as pd

        from sea_streamer_spark.model import MESSAGE_SCHEMA

        for chunk in files:
            pdf = pd.DataFrame(
                chunk, columns=["stream_key", "shard_id", "sequence", "timestamp", "payload"]
            )
            spark.createDataFrame(pdf, MESSAGE_SCHEMA).coalesce(1).write.mode("append").parquet(src)
        return (
            spark.readStream.schema(MESSAGE_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
        )

    def test_append_mode_emits_only_closed_windows(self, spark, tmp_path):
        import pandas as pd

        t0 = pd.Timestamp("2024-01-01 00:00:00")
        mk = lambda sec, seq: ("k", 0, seq, t0 + pd.Timedelta(seconds=sec), b"")  # noqa: E731
        # batch 1: minutes 0 and 1; batch 2: minute 10 (advances watermark far
        # past the first windows); the minute-10 window stays open at the end.
        files = [
            [mk(5, 0), mk(20, 1), mk(70, 2)],
            [mk(600, 3), mk(610, 4)],
        ]
        stream = self._stream(spark, str(tmp_path / "src"), files)
        agg = (
            stream.withWatermark("timestamp", "30 seconds")
            .groupBy(F.window("timestamp", "1 minute").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("w_start"), "n")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("wm_windows")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {r.w_start.minute: r.n for r in spark.sql("SELECT * FROM wm_windows").collect()}
        assert got == {0: 2, 1: 1}  # minute-10 window not closed -> not emitted

    def test_drop_duplicates_within_watermark(self, spark, tmp_path):
        import pandas as pd

        t0 = pd.Timestamp("2024-01-01 00:00:00")
        mk = lambda sec, seq: ("k", 0, seq, t0 + pd.Timedelta(seconds=sec), b"")  # noqa: E731
        # seq 1 appears in batches 1 and 2 (within the watermark): deduped.
        files = [
            [mk(0, 0), mk(1, 1)],
            [mk(2, 1), mk(3, 2)],
        ]
        stream = self._stream(spark, str(tmp_path / "src2"), files)
        dd = stream.withWatermark("timestamp", "1 hour").dropDuplicatesWithinWatermark(
            ["stream_key", "sequence"]
        )
        q = (
            dd.writeStream.format("memory")
            .queryName("wm_dedup")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        seqs = sorted(r.sequence for r in spark.sql("SELECT * FROM wm_dedup").collect())
        assert seqs == [0, 1, 2]


class TestKafkaOptionMapping:
    """S1/D1-D3/T1-T2 → Kafka source options, broker-free (pure mapping)."""

    def _opts(self, **kw):
        from datetime import datetime, timezone

        from sea_streamer_spark.streaming.consumer import kafka_options
        from sea_streamer_spark.uri import StreamUrl

        url = StreamUrl.parse("kafka://node-a:9092,node-b:9092/clicks,errors")
        return kafka_options(url, ConsumerOptions(**kw)), datetime, timezone

    def test_realtime_vs_resumable_offsets(self):
        o, *_ = self._opts(mode=ConsumerMode.RealTime)
        assert o["startingOffsets"] == "latest"
        assert o["kafka.bootstrap.servers"] == "node-a:9092,node-b:9092"
        assert o["subscribe"] == "clicks,errors"
        o, *_ = self._opts(mode=ConsumerMode.Resumable)
        assert o["startingOffsets"] == "earliest"

    def test_rewind_overrides_mode(self):
        o, *_ = self._opts(mode=ConsumerMode.RealTime, rewind_to=Beginning)
        assert o["startingOffsets"] == "earliest"
        from sea_streamer_spark.streaming.consumer import End as _End

        o, *_ = self._opts(mode=ConsumerMode.Resumable, rewind_to=_End)
        assert o["startingOffsets"] == "latest"

    def test_seek_is_timestamp_exclusive(self):
        o, datetime, timezone = self._opts(
            seek_to=__import__("datetime").datetime(2024, 1, 1, tzinfo=__import__("datetime").timezone.utc)
        )
        assert int(o["startingTimestamp"]) == 1_704_067_200_000 + 1  # +1ms = exclusive

    def test_group_and_rate_limits(self):
        o, *_ = self._opts(group="g1", max_offsets_per_trigger=5000)
        assert o["groupIdPrefix"] == "g1"
        assert o["maxOffsetsPerTrigger"] == "5000"


class TestIdempotentSink:
    """S21/D9: foreachBatch custom sink with replay-safe batch ledger."""

    def test_replayed_batch_is_skipped(self, spark, env_batch, tmp_path):
        from sea_streamer_spark.streaming.sink import (
            idempotent_foreach_batch,
            partitioned_parquet_sink,
            receipts_for,
        )

        calls = []
        inner = partitioned_parquet_sink(str(tmp_path / "out"))

        def write_fn(batch, bid):
            calls.append(bid)
            inner(batch, bid)

        wrapped = idempotent_foreach_batch(write_fn, str(tmp_path / "ledger"))

        src = str(tmp_path / "src")
        env_batch.limit(100).write.parquet(src)
        from sea_streamer_spark.model import MESSAGE_SCHEMA

        def run():
            q = (
                spark.readStream.schema(MESSAGE_SCHEMA)
                .parquet(src)
                .writeStream.foreachBatch(wrapped)
                .option("checkpointLocation", str(tmp_path / "ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run()
        n_first = len(calls)
        assert n_first >= 1
        # simulate a replay: call the wrapped fn again with an already-done id
        batch0 = spark.read.parquet(src)
        wrapped(batch0, 0)
        assert len(calls) == n_first  # skipped — ledger hit
        wrapped(batch0, 999)
        assert len(calls) == n_first + 1  # a new id still writes

        # the sink output matches the source despite the replay attempt
        import glob

        written = spark.read.parquet(*glob.glob(str(tmp_path / "out" / "batch_id=*")))
        assert written.count() >= 100

        # receipts are the envelope minus payload
        r = receipts_for(batch0)
        assert r.columns == ["stream_key", "shard_id", "sequence", "timestamp"]


class TestRedisProducerCommands:
    """S5/S6: XADD/XTRIM command construction (server-free)."""

    def test_xadd_explicit_ids_are_receipts(self, spark, env_batch):
        from sea_streamer_spark.streaming.redis import (
            parse_entry_id,
            unpack_message_id,
            xadd_commands,
        )

        rows = env_batch.orderBy("sequence").limit(10).collect()
        cmds = xadd_commands(rows)
        assert len(cmds) == 10
        for r, (key, entry_id, payload) in zip(rows, cmds):
            ms, seq = unpack_message_id(parse_entry_id(entry_id))
            assert ms == int(r.timestamp.timestamp() * 1000)
            assert seq == r.sequence & 0xFFFF
            assert key.startswith(r.stream_key)
            if r.shard_id:
                assert key.endswith(f":{r.shard_id}")
        # identical batch -> identical ids (idempotent replay)
        assert cmds == xadd_commands(rows)

    def test_xtrim_variants(self):
        from sea_streamer_spark.streaming.redis import xtrim_commands

        by_len = xtrim_commands("events", [0, 1, 2], maxlen=10_000)
        assert by_len == [
            ("events", "MAXLEN", "~", 10_000),
            ("events:1", "MAXLEN", "~", 10_000),
            ("events:2", "MAXLEN", "~", 10_000),
        ]
        by_ts = xtrim_commands("events", [0], min_ts_ms=1_700_000_000_000)
        assert by_ts == [("events", "MINID", "~", 1_700_000_000_000)]
        import pytest as _p

        with _p.raises(ValueError):
            xtrim_commands("events", [0])
        with _p.raises(ValueError):
            xtrim_commands("events", [0], maxlen=1, min_ts_ms=1)


class TestSessionWindowStreaming:
    """Streaming session windows (gap-based) with watermark, append mode."""

    def test_sessionization(self, spark, tmp_path):
        import pandas as pd

        from sea_streamer_spark.model import MESSAGE_SCHEMA

        t0 = pd.Timestamp("2024-01-01 00:00:00")
        mk = lambda sec, seq: ("k", 0, seq, t0 + pd.Timedelta(seconds=sec), b"")  # noqa: E731
        # two activity bursts separated by > gap (5 min), then a watermark
        # pusher event far in the future so both sessions close.
        files = [
            [mk(0, 0), mk(30, 1), mk(60, 2)],          # session 1: 3 events
            [mk(1000, 3), mk(1020, 4)],                # session 2: 2 events
            [mk(9000, 5)],                             # closes both sessions
        ]
        src = str(tmp_path / "src")
        for chunk in files:
            pdf = pd.DataFrame(chunk, columns=["stream_key", "shard_id", "sequence", "timestamp", "payload"])
            spark.createDataFrame(pdf, MESSAGE_SCHEMA).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(MESSAGE_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
        )
        sess = (
            stream.withWatermark("timestamp", "1 minute")
            .groupBy(F.session_window("timestamp", "5 minutes").alias("sw"), "stream_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("sw.start").alias("s"), F.col("sw.end").alias("e"), "n")
        )
        q = (
            sess.writeStream.format("memory")
            .queryName("sessions")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = sorted(spark.sql("SELECT * FROM sessions").collect(), key=lambda r: r.s)
        assert [r.n for r in rows] == [3, 2]
        # session end = last event + gap
        assert (rows[0].e - rows[0].s).total_seconds() == 60 + 300
        assert (rows[1].e - rows[1].s).total_seconds() == 20 + 300


class TestResumableNoRedelivery:
    """redis/tests/resumable.rs analog: same group (checkpoint) across a
    restart consumes each message exactly once."""

    def test_resume_consumes_only_new(self, spark, env_batch, tmp_path):
        stream, sink, ckpt = (str(tmp_path / d) for d in ("stream", "sink", "ckpt"))
        producer = create_producer(spark, f"file://{stream}/")
        producer.send_batch(env_batch.limit(300))
        consumer = create_consumer(
            spark,
            f"file://{stream}/",
            ConsumerOptions(mode=ConsumerMode.Resumable, checkpoint_dir=ckpt),
        )
        consumer.start_to_parquet(sink)
        assert spark.read.parquet(sink).count() == 300

        producer.send_batch(env_batch.limit(500).subtract(env_batch.limit(300)))
        consumer.start_to_parquet(sink)  # "restart" with the same group
        out = spark.read.parquet(sink)
        assert out.count() == 500
        # exactly-once: no duplicate (stream_key, shard, sequence) identities
        assert out.select("stream_key", "shard_id", "sequence").distinct().count() == 500


class TestBehavioralFixtures:
    """FIXTURES.md §3: behavioral assertions mirrored from the reference's
    integration suite, over the file replay backend."""

    def _mk_stream(self, spark, tmp_path, n=100, gap_after=None):
        import pandas as pd

        from sea_streamer_spark.model import MESSAGE_SCHEMA

        t0 = pd.Timestamp("2024-01-01 00:00:00")
        rows = []
        for i in range(n):
            ts = t0 + pd.Timedelta(milliseconds=i)
            if gap_after is not None and i > gap_after:
                ts += pd.Timedelta(milliseconds=1)  # the 1 ms gap after #29
            rows.append(("s", 0, i, ts, str(i).encode()))
        pdf = pd.DataFrame(rows, columns=["stream_key", "shard_id", "sequence", "timestamp", "payload"])
        d = str(tmp_path / "stream")
        spark.createDataFrame(pdf, MESSAGE_SCHEMA).write.parquet(d)
        return d, pdf

    def test_seek_midstream_ts_exclusive(self, spark, tmp_path):
        """redis/tests/seek-rewind.rs:57-80: seek to the receipt timestamp of
        message #29 -> consumption resumes at #30 (ts strictly greater)."""
        d, pdf = self._mk_stream(spark, tmp_path, n=100, gap_after=29)
        receipt_ts = pdf.iloc[29].timestamp.to_pydatetime()
        consumer = create_consumer(spark, f"file://{d}/", ConsumerOptions()).seek(receipt_ts)
        consumer.start_to_memory("seek_mid")
        seqs = sorted(r.sequence for r in spark.sql("SELECT sequence FROM seek_mid").collect())
        assert seqs == list(range(30, 100))

    def test_rewind_at_seq_inclusive(self, spark, tmp_path):
        d, _ = self._mk_stream(spark, tmp_path, n=50)
        consumer = create_consumer(spark, f"file://{d}/", ConsumerOptions()).rewind(30)
        consumer.start_to_memory("rw_at")
        seqs = sorted(r.sequence for r in spark.sql("SELECT sequence FROM rw_at").collect())
        assert seqs == list(range(30, 50))  # At(n) is inclusive

    def test_load_balanced_pair_disjoint_union(self, spark, tmp_path):
        """load-balanced.rs:80-92: two consumers in one group split the
        stream — union of consumption == produced, intersection == empty.
        Spark's partition ownership realizes the split as shard assignment."""
        import pandas as pd

        from sea_streamer_spark.model import MESSAGE_SCHEMA

        t0 = pd.Timestamp("2024-01-01")
        rows = [("s", i % 2, i, t0 + pd.Timedelta(seconds=i), b"") for i in range(10)]
        pdf = pd.DataFrame(rows, columns=["stream_key", "shard_id", "sequence", "timestamp", "payload"])
        d = str(tmp_path / "lb")
        spark.createDataFrame(pdf, MESSAGE_SCHEMA).write.parquet(d)

        c1 = create_consumer(spark, f"file://{d}/", ConsumerOptions()).assign(0)
        c2 = create_consumer(spark, f"file://{d}/", ConsumerOptions()).assign(1)
        c1.start_to_memory("lb_c1")
        c2.start_to_memory("lb_c2")
        got1 = {r.sequence for r in spark.sql("SELECT sequence FROM lb_c1").collect()}
        got2 = {r.sequence for r in spark.sql("SELECT sequence FROM lb_c2").collect()}
        assert got1 & got2 == set()
        assert got1 | got2 == set(range(10))


class TestIggyOptionMapping:
    """S15 scaffold: Iggy option surface -> consumer facade semantics."""

    def test_polling_strategies(self):
        from sea_streamer_spark.streaming.consumer import Beginning as B
        from sea_streamer_spark.streaming.consumer import End as E
        from sea_streamer_spark.streaming.iggy import (
            IggyConsumerOptions,
            IggyPollingStrategy,
            consumer_options_for,
        )

        o = consumer_options_for(IggyConsumerOptions(polling=IggyPollingStrategy.Next), "/tmp/ck")
        assert o.mode is ConsumerMode.Resumable and o.checkpoint_dir == "/tmp/ck"
        assert consumer_options_for(
            IggyConsumerOptions(polling=IggyPollingStrategy.First)
        ).rewind_to is B
        assert consumer_options_for(
            IggyConsumerOptions(polling=IggyPollingStrategy.Last)
        ).rewind_to is E
        assert consumer_options_for(
            IggyConsumerOptions(polling=IggyPollingStrategy.Offset, polling_arg=42)
        ).rewind_to == 42
        ts = consumer_options_for(
            IggyConsumerOptions(polling=IggyPollingStrategy.Timestamp, polling_arg=1_700_000_000_000_000)
        ).seek_to
        assert int(ts.timestamp() * 1e6) == 1_700_000_000_000_000

    def test_partitioning_expressions(self, spark, env_batch):
        from sea_streamer_spark.streaming.iggy import IggyPartitioning, apply_partitioning

        df = env_batch.limit(50).drop("shard_id")
        pinned = apply_partitioning(df, IggyPartitioning.PartitionId, 4, arg=2)
        assert {r.shard_id for r in pinned.select("shard_id").distinct().collect()} == {2}
        keyed = apply_partitioning(df, IggyPartitioning.MessageKey, 4, arg="stream_key")
        shards = {r.shard_id for r in keyed.select("shard_id").distinct().collect()}
        assert shards <= {0, 1, 2, 3} and len(shards) >= 1
        # same key -> same shard (deterministic)
        one_key = keyed.filter(F.col("stream_key") == "click").select("shard_id").distinct()
        assert one_key.count() == 1


class TestConnectFacade:
    """S16: SeaStreamer::connect -> Streamer -> create_consumer/producer."""

    def test_connect_roundtrip(self, spark, env_batch, tmp_path):
        from sea_streamer_spark.streaming.consumer import connect

        d = str(tmp_path / "s")
        streamer = connect(spark, f"file://{d}/")
        streamer.create_producer().send_batch(env_batch.limit(40))
        consumer = streamer.create_consumer()
        consumer.start_to_memory("connect_q")
        assert spark.sql("SELECT COUNT(*) n FROM connect_q").collect()[0].n == 40
        streamer.disconnect()  # no-op by contract

    def test_connect_with_stream_selection(self, spark, env_batch, tmp_path):
        from sea_streamer_spark.streaming.consumer import connect

        d = str(tmp_path / "s2")
        streamer = connect(spark, f"file://{d}/")
        streamer.create_producer().send_batch(env_batch.limit(200))
        c = streamer.create_consumer(streams=["click"])
        c.start_to_memory("connect_click")
        keys = {r.stream_key for r in spark.sql("SELECT stream_key FROM connect_click").collect()}
        assert keys == {"click"}


class TestStreamStreamIntervalJoin:
    """True stream-stream correlation join (fuse.stream_join_correlated):
    two live watermarked streams, event-time range condition, inner join —
    verified pair-for-pair against the batch equivalent."""

    def test_pairs_match_batch_equivalent(self, spark, tmp_path):
        import pandas as pd

        from sea_streamer_spark.model import MESSAGE_SCHEMA
        from sea_streamer_spark.operators.fuse import stream_join_correlated

        t0 = pd.Timestamp("2024-01-01 00:00:00")
        mk = lambda key, shard, sec, seq: (  # noqa: E731
            key, shard, seq, t0 + pd.Timedelta(seconds=sec), b"x"
        )
        cols = ["stream_key", "shard_id", "sequence", "timestamp", "payload"]
        # left: anchors on shards 0/1; right: candidates straddling the
        # [-0, +60s] window boundaries, plus a wrong-shard decoy and a
        # far-future watermark pusher on each side.
        lrows = [mk("a", 0, 100, 0), mk("a", 1, 100, 1), mk("a", 0, 9000, 99)]
        rrows = [
            mk("b", 0, 100, 10),   # exact lower bound: in
            mk("b", 0, 160, 11),   # exact upper bound: in
            mk("b", 0, 161, 12),   # just past: out
            mk("b", 0, 99, 13),    # before anchor: out (lower=0)
            mk("b", 1, 150, 14),   # shard 1 anchor's window: in
            mk("b", 2, 120, 15),   # wrong shard: out
            mk("b", 0, 9000, 98),  # watermark pusher
        ]
        lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
        for src, rows in [(lsrc, lrows), (rsrc, rrows)]:
            pdf = pd.DataFrame(rows, columns=cols)
            spark.createDataFrame(pdf, MESSAGE_SCHEMA).coalesce(1).write.parquet(src)

        def join_of(ldf, rdf):
            return stream_join_correlated(
                ldf, rdf, on="shard_id", watermark="30 seconds",
                lower_seconds=0, upper_seconds=60,
            )

        lstream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(lsrc)
        rstream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(rsrc)
        q = (
            join_of(lstream, rstream)
            .writeStream.format("memory")
            .queryName("ssj")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r.sequence, r.sequence_r)
            for r in spark.sql("SELECT sequence, sequence_r FROM ssj").collect()
        }
        batch = join_of(spark.read.parquet(lsrc), spark.read.parquet(rsrc))
        exp = {(r.sequence, r.sequence_r) for r in batch.collect()}
        assert exp == {(0, 10), (0, 11), (1, 14), (99, 98)}
        assert got == exp


class TestRedisLoopbackE2E:
    """S4/S5 connector e2e against the in-process Redis Streams model
    (fake_redis.FakeRedis) — the loopback role stdio plays in the reference.
    The connector code paths (xadd pipeline, shard discovery, XRANGE polling,
    MessageId offsets) are exactly what redis-py would drive."""

    def _produce(self, spark, env_batch, client, n=300):
        from sea_streamer_spark.streaming.redis import redis_sink_foreach_batch

        # one stream key (a stream has one key; shards are sub-keys)
        batch = env_batch.filter(
            (F.col("stream_key") == "click") & (F.col("sequence") < n)
        )
        write = redis_sink_foreach_batch(client_factory=lambda: client)
        write(batch, batch_id=0)
        return batch

    def test_produce_poll_roundtrip(self, spark, env_batch):
        from sea_streamer_spark.streaming.fake_redis import FakeRedis
        from sea_streamer_spark.streaming.redis import (
            discover_shards,
            poll_shards,
            unpack_message_id,
        )

        client = FakeRedis()
        batch = self._produce(spark, env_batch, client)
        sent = batch.collect()
        key = sent[0].stream_key
        shards = discover_shards(client, key)
        assert shards == sorted({r.shard_id for r in sent})
        rows, offsets = poll_shards(client, key, shards, count=10_000)
        assert len(rows) == len(sent)
        # payloads survive byte-exact; per-shard ids strictly increase
        assert {bytes(r.payload) for r in sent} == {r["payload"] for r in rows}
        for sid in shards:
            seqs = [r["sequence"] for r in rows if r["shard_id"] == sid]
            assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
            assert offsets[sid] == seqs[-1]
        # event-time millis round-trip through the packed MessageId
        by_ms = {unpack_message_id(r["sequence"])[0] for r in rows}
        assert by_ms == {int(r.timestamp.timestamp() * 1000) for r in sent}

    def test_resume_consumes_only_new(self, spark, env_batch):
        from sea_streamer_spark.streaming.fake_redis import FakeRedis
        from sea_streamer_spark.streaming.redis import discover_shards, poll_shards

        client = FakeRedis()
        first = self._produce(spark, env_batch, client, n=200)
        key = first.collect()[0].stream_key
        shards = discover_shards(client, key)
        rows1, offsets = poll_shards(client, key, shards, count=10_000)
        # "restart": new client state is just the checkpointed offsets
        second = env_batch.filter(
            (F.col("stream_key") == "click")
            & (F.col("sequence") >= 200)
            & (F.col("sequence") < 350)
        )
        from sea_streamer_spark.streaming.redis import redis_sink_foreach_batch

        redis_sink_foreach_batch(client_factory=lambda: client)(second, batch_id=1)
        rows2, _ = poll_shards(client, key, shards, offsets, count=10_000)
        assert len(rows1) == first.count() and len(rows2) == second.count()
        assert {r["sequence"] for r in rows1}.isdisjoint({r["sequence"] for r in rows2})

    def test_replayed_batch_is_idempotent(self, spark, env_batch):
        from sea_streamer_spark.streaming.fake_redis import FakeRedis
        from sea_streamer_spark.streaming.redis import (
            discover_shards,
            poll_shards,
            redis_sink_foreach_batch,
            shard_key,
        )

        client = FakeRedis()
        batch = self._produce(spark, env_batch, client, n=150)
        n = batch.count()
        key = batch.collect()[0].stream_key
        n_before = sum(client.xlen(shard_key(key, s)) for s in discover_shards(client, key))
        # micro-batch replay after a simulated failure: same rows, same ids
        redis_sink_foreach_batch(client_factory=lambda: client)(batch, batch_id=0)
        n_after = sum(client.xlen(shard_key(key, s)) for s in discover_shards(client, key))
        assert n_before == n_after == n > 0
        rows, _ = poll_shards(client, key, discover_shards(client, key), count=10_000)
        assert len(rows) == n

    def test_xtrim_retention(self, spark, env_batch):
        from sea_streamer_spark.streaming.fake_redis import FakeRedis
        from sea_streamer_spark.streaming.redis import (
            discover_shards,
            redis_sink_foreach_batch,
            shard_key,
        )

        client = FakeRedis()
        batch = self._produce_with_maxlen(spark, env_batch, client, n=300, maxlen=20)
        key = batch.collect()[0].stream_key
        for s in discover_shards(client, key):
            assert client.xlen(shard_key(key, s)) <= 20

    def _produce_with_maxlen(self, spark, env_batch, client, n, maxlen):
        from sea_streamer_spark.streaming.redis import redis_sink_foreach_batch

        batch = env_batch.filter(
            (F.col("stream_key") == "click") & (F.col("sequence") < n)
        )
        redis_sink_foreach_batch(maxlen=maxlen, client_factory=lambda: client)(batch, 0)
        return batch


class TestIggyLoopbackE2E:
    """S15 connector e2e against the in-process Iggy model (fake_iggy.py) —
    polling strategies and auto-commit semantics of iggy/src/options.rs
    driven through the real engine code paths (poll_partitions/iggy_sink)."""

    def _client_with(self, spark, env_batch, n=200):
        from sea_streamer_spark.streaming.fake_iggy import FakeIggy
        from sea_streamer_spark.streaming.iggy import iggy_sink_batch

        client = FakeIggy()
        batch = env_batch.filter(
            (F.col("stream_key") == "view") & (F.col("sequence") < n)
        )
        rows = batch.collect()
        receipts = iggy_sink_batch(client, rows, stream="events", topic="view")
        return client, rows, receipts

    def test_first_roundtrip_and_receipts(self, spark, env_batch):
        from sea_streamer_spark.streaming.iggy import (
            IggyConsumerOptions,
            IggyPollingStrategy,
            poll_partitions,
        )

        client, sent, receipts = self._client_with(spark, env_batch)
        assert sum(len(v) for v in receipts.values()) == len(sent)
        # server offsets are dense per partition starting at 0
        assert all(v == list(range(len(v))) for v in receipts.values())
        got = poll_partitions(
            client, "events", "view",
            IggyConsumerOptions(polling=IggyPollingStrategy.First),
        )
        assert len(got) == len(sent)
        assert {bytes(r.payload) for r in sent} == {r["payload"] for r in got}
        assert {r.shard_id for r in sent} == {r["shard_id"] for r in got}

    def test_offset_strategy_inclusive(self, spark, env_batch):
        from sea_streamer_spark.streaming.iggy import (
            IggyConsumerOptions,
            IggyPollingStrategy,
            poll_partitions,
        )

        client, sent, _ = self._client_with(spark, env_batch)
        got = poll_partitions(
            client, "events", "view",
            IggyConsumerOptions(polling=IggyPollingStrategy.Offset, polling_arg=3),
        )
        per_part_min = {}
        for r in got:
            per_part_min.setdefault(r["shard_id"], []).append(r["sequence"])
        for pid, seqs in per_part_min.items():
            assert min(seqs) == 3  # inclusive at the requested offset

    def test_timestamp_strategy(self, spark, env_batch):
        from sea_streamer_spark.streaming.iggy import (
            IggyConsumerOptions,
            IggyPollingStrategy,
            poll_partitions,
        )

        client, sent, _ = self._client_with(spark, env_batch)
        mid = sorted(r.timestamp for r in sent)[len(sent) // 2]
        cut_us = int(mid.timestamp() * 1_000_000)
        got = poll_partitions(
            client, "events", "view",
            IggyConsumerOptions(polling=IggyPollingStrategy.Timestamp, polling_arg=cut_us),
        )
        assert got and all(
            int(r["timestamp"].timestamp() * 1e6) >= cut_us for r in got
        )
        expected = sum(1 for r in sent if int(r.timestamp.timestamp() * 1e6) >= cut_us)
        assert len(got) == expected

    def test_next_auto_commit_resumes(self, spark, env_batch):
        from sea_streamer_spark.streaming.iggy import (
            IggyAutoCommit,
            IggyConsumerOptions,
            IggyPollingStrategy,
            iggy_sink_batch,
            poll_partitions,
        )

        client, sent, _ = self._client_with(spark, env_batch, n=150)
        opts = IggyConsumerOptions(polling=IggyPollingStrategy.Next)
        first = poll_partitions(client, "events", "view", opts, consumer="c1")
        assert len(first) == len(sent)
        # nothing new -> empty; then produce more and poll only the new tail
        assert poll_partitions(client, "events", "view", opts, consumer="c1") == []
        more = env_batch.filter(
            (F.col("stream_key") == "view")
            & (F.col("sequence") >= 150) & (F.col("sequence") < 250)
        ).collect()
        iggy_sink_batch(client, more, stream="events", topic="view")
        second = poll_partitions(client, "events", "view", opts, consumer="c1")
        assert len(second) == len(more)
        # Disabled auto-commit never advances: two polls see the same rows
        opts_nc = IggyConsumerOptions(
            polling=IggyPollingStrategy.Next, auto_commit=IggyAutoCommit.Disabled
        )
        a = poll_partitions(client, "events", "view", opts_nc, consumer="c2")
        b = poll_partitions(client, "events", "view", opts_nc, consumer="c2")
        assert [r["sequence"] for r in a] == [r["sequence"] for r in b] and a


class TestStreamStreamLeftOuter:
    """Left-outer stream-stream interval join: unmatched left rows emit with
    null right columns only after the watermark proves no match can arrive."""

    def test_unmatched_rows_emit_after_watermark(self, spark, tmp_path):
        import pandas as pd

        from sea_streamer_spark.model import MESSAGE_SCHEMA
        from sea_streamer_spark.operators.fuse import stream_join_correlated

        t0 = pd.Timestamp("2024-01-01 00:00:00")
        mk = lambda key, shard, sec, seq: (  # noqa: E731
            key, shard, seq, t0 + pd.Timedelta(seconds=sec), b"x"
        )
        cols = ["stream_key", "shard_id", "sequence", "timestamp", "payload"]
        # left: one matched anchor, one unmatched anchor; right: one match
        # + far-future watermark pushers on both sides (separate files so
        # maxFilesPerTrigger=1 advances the watermark across micro-batches,
        # which is what allows the outer row to emit).
        lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
        lfiles = [[mk("a", 0, 100, 1), mk("a", 1, 100, 2)], [mk("a", 0, 99000, 99)]]
        rfiles = [[mk("b", 0, 130, 10)], [mk("b", 0, 99000, 98)]]
        for src, files in [(lsrc, lfiles), (rsrc, rfiles)]:
            for i, chunk in enumerate(files):
                pdf = pd.DataFrame(chunk, columns=cols)
                (spark.createDataFrame(pdf, MESSAGE_SCHEMA).coalesce(1)
                 .write.mode("append").parquet(src))
        joined = stream_join_correlated(
            spark.readStream.schema(MESSAGE_SCHEMA).option("maxFilesPerTrigger", 1).parquet(lsrc),
            spark.readStream.schema(MESSAGE_SCHEMA).option("maxFilesPerTrigger", 1).parquet(rsrc),
            on="shard_id", watermark="10 seconds",
            lower_seconds=0, upper_seconds=60, how="leftOuter",
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("sslo")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.sql("SELECT sequence, sequence_r FROM sslo").collect()
        got = {(r.sequence, r.sequence_r) for r in rows}
        # anchor 1 matched right 10; anchor 2 (shard 1, no right activity)
        # emitted null-padded after the watermark passed its window
        assert (1, 10) in got
        assert (2, None) in got


class TestSessionWindowStreaming:
    """Live session windows: F.session_window (30-min dynamic gap) over a
    watermarked stream must produce the same closed sessions as the batch
    gap-based sessionize_events formulation (plans/event_streams.py)."""

    def test_session_window_matches_batch_gap_logic(self, spark, tmp_path):
        import pandas as pd

        from sea_streamer_spark.model import MESSAGE_SCHEMA

        t0 = pd.Timestamp("2024-01-01 00:00:00")
        mk = lambda mins, seq, key: (key, 0, seq, t0 + pd.Timedelta(minutes=mins), b"")  # noqa: E731
        # user a: events at 0,10,20 (one session), then 60,65 (second session),
        # then 300 (left open). user b: single event at 5 then silence.
        rows = [
            mk(0, 0, "a"), mk(10, 1, "a"), mk(20, 2, "a"),
            mk(60, 3, "a"), mk(65, 4, "a"), mk(300, 5, "a"),
            mk(5, 0, "b"),
        ]
        src = str(tmp_path / "sess_src")
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["stream_key", "shard_id", "sequence", "timestamp", "payload"]),
            MESSAGE_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(src)
        agg = (
            stream.withWatermark("timestamp", "10 minutes")
            .groupBy(F.session_window("timestamp", "30 minutes").alias("sw"), "stream_key")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "stream_key",
                F.col("sw.start").alias("session_start"),
                "n_events",
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("sess_windows")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "sess_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r.stream_key, r.session_start.isoformat(), r.n_events)
            for r in spark.sql("SELECT * FROM sess_windows").collect()
        }
        # closed sessions only: a@0 (3 events), a@60 (2 events), b@5 (1);
        # the a@300 session is still open at the final watermark -> withheld.
        assert got == {
            ("a", "2024-01-01T00:00:00", 3),
            ("a", "2024-01-01T01:00:00", 2),
            ("b", "2024-01-01T00:05:00", 1),
        }


class TestStreamingNearDupDedup:
    """Streaming MinHash near-dup dedup: only documents that are not a
    near-dup of anything earlier (within the watermark horizon) are emitted.
    Exercises chained stateful operators: dropDuplicatesWithinWatermark on
    LSH band buckets followed by a watermarked per-doc count."""

    def test_near_dups_of_earlier_docs_withheld(self, spark, tmp_path):
        import pandas as pd

        from sea_streamer_spark.operators.dedup import streaming_near_dup_new_docs

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        near = base.replace("kappa", "lambda")  # 1-token change: j ~ 0.75
        distinct = "one two three four five six seven eight nine ten"
        t0 = pd.Timestamp("2024-01-01 00:00:00")
        batches = [
            [(0, base, t0), (1, distinct, t0 + pd.Timedelta(minutes=1))],
            [(2, near, t0 + pd.Timedelta(minutes=2)),          # near-dup of 0
             (3, base, t0 + pd.Timedelta(minutes=3)),          # exact dup of 0
             (4, "totally different words here now ok fine yes", t0 + pd.Timedelta(minutes=4))],
            # sentinel an hour later: advances the watermark past every doc
            # above so their append-mode groups close; stays open itself.
            [(5, "flush sentinel words aa bb cc dd ee ff gg", t0 + pd.Timedelta(hours=1))],
        ]
        src = str(tmp_path / "nd_src")
        for chunk in batches:
            spark.createDataFrame(
                pd.DataFrame(chunk, columns=["doc_id", "text", "timestamp"])
            ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "doc_id long, text string, timestamp timestamp"
        ).option("maxFilesPerTrigger", 1).parquet(src)
        out = streaming_near_dup_new_docs(stream, watermark="30 seconds")
        q = (
            out.writeStream.format("memory")
            .queryName("nd_new")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "nd_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {r.doc_id for r in spark.sql("SELECT * FROM nd_new").collect()}
        # 0, 1 are first of their buckets; 4 is novel; 2 (near-dup) and
        # 3 (exact dup) must be withheld.
        assert got == {0, 1, 4}, got


class TestObservedMetrics:
    """df.observe metrics ride inside the micro-batch plan and reach the
    listener with every progress event (streaming/metrics.py)."""

    def test_collector_sees_per_batch_envelope_metrics(self, spark, tmp_path):
        import time

        import pandas as pd

        from sea_streamer_spark.model import MESSAGE_SCHEMA
        from sea_streamer_spark.streaming.metrics import MetricsCollector, with_metrics

        t0 = pd.Timestamp("2024-01-01 00:00:00")
        rows = [("k", 0, i, t0 + pd.Timedelta(seconds=i), b"x" * 10) for i in range(6)]
        src = str(tmp_path / "obs_src")
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["stream_key", "shard_id", "sequence", "timestamp", "payload"]),
            MESSAGE_SCHEMA,
        ).coalesce(2).write.parquet(src)

        collector = MetricsCollector()
        spark.streams.addListener(collector)
        try:
            stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(src)
            q = (
                with_metrics(stream)
                .writeStream.format("noop")
                .option("checkpointLocation", str(tmp_path / "obs_ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            # listener delivery is async; progress events can trail termination
            for _ in range(40):
                if collector.rows:
                    break
                time.sleep(0.25)
        finally:
            spark.streams.removeListener(collector)
        got = [r for r in collector.rows if r["name"] == "envelope"]
        assert got, "no observed metrics delivered"
        assert sum(r["n_messages"] for r in got) == 6
        assert sum(r["payload_bytes"] for r in got) == 60


class TestWideSeqNo:
    """wide-seq-no / nanosecond-timestamp opt-in: packing vectors match the
    reference's (ts << 16) | seq at nanosecond width (redis/src/message.rs:
    51-60, 85-89; types/Cargo.toml:29), with parse_message_id's validation
    (seq16 cap, message.rs:40-44; u64 entry-id timestamp cap → year 2554,
    message.rs:33-35)."""

    def test_pack_unpack_vectors(self):
        from sea_streamer_spark.streaming.redis import (
            pack_message_id_wide,
            unpack_message_id_wide,
        )

        ns = 1_700_000_000_000_123_456
        assert pack_message_id_wide(ns, 7) == (ns << 16) | 7
        assert unpack_message_id_wide((ns << 16) | 7) == (ns, 7)
        assert pack_message_id_wide(0, 0) == 0
        # packed value exceeds u64 — the reason SeqNo widens to u128
        assert pack_message_id_wide(ns, 0) > (1 << 64)

    def test_entry_id_roundtrip(self):
        from sea_streamer_spark.streaming.redis import (
            format_entry_id_wide,
            pack_message_id_wide,
            parse_entry_id_wide,
        )

        ns = 1_700_000_000_000_123_456
        eid = format_entry_id_wide(pack_message_id_wide(ns, 65535))
        assert eid == f"{ns}-65535"
        assert parse_entry_id_wide(eid) == pack_message_id_wide(ns, 65535)
        assert parse_entry_id_wide(f"{ns}") == pack_message_id_wide(ns, 0)

    def test_validation_parity(self):
        import pytest as _pytest

        from sea_streamer_spark.streaming.redis import (
            MAX_TS_NANOS,
            pack_message_id_wide,
        )

        with _pytest.raises(ValueError, match="sequence"):
            pack_message_id_wide(1, 0x10000)  # message.rs:40-44
        with _pytest.raises(ValueError, match="nanos"):
            pack_message_id_wide(MAX_TS_NANOS + 1, 0)  # u64 ts field
        pack_message_id_wide(MAX_TS_NANOS, 0)  # year 2554: last valid

    def test_wide_sequence_col_matches_python_packing(self, spark, sf_dir):
        from sea_streamer_spark.model import envelope_from_events
        from sea_streamer_spark.sources.tables import load_tables
        from sea_streamer_spark.streaming.redis import (
            pack_message_id_wide,
            wide_sequence_col,
        )

        env = envelope_from_events(load_tables(spark, sf_dir, "events").events)
        got = (
            env.select(
                "sequence",
                "timestamp",
                wide_sequence_col("timestamp", "sequence").alias("wide"),
            )
            .limit(20)
            .collect()
        )
        assert got, "no rows"
        for r in got:
            ns = int(r.timestamp.timestamp() * 1_000_000) * 1000
            assert int(r.wide) == pack_message_id_wide(ns, int(r.sequence) % 65536)
        # decimal(38,0): wide enough for (u64 ns << 16), never silently i64
        assert dict(
            env.select(wide_sequence_col("timestamp", "sequence").alias("w")).dtypes
        )["w"] == "decimal(38,0)"
