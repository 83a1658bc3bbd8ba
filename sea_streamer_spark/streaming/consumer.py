"""Consumer facade: ``create_consumer(streams, options) → streaming envelope``.

Maps the reference's consumer surface (types/src/consumer.rs:49-94) onto
Structured Streaming:

| reference                         | Spark                                             |
|-----------------------------------|---------------------------------------------------|
| ConsumerMode::RealTime (D1)       | no checkpoint + latest offsets                    |
| ConsumerMode::Resumable (D2)      | ``checkpointLocation`` (exactly Spark's model)    |
| ConsumerMode::LoadBalanced (D3)   | native partition→task ownership; scale executors  |
| seek(Timestamp) (T1)              | starting-offset-by-timestamp / event-time filter  |
| rewind(Beginning/End/At) (T2)     | startingOffsets earliest/latest/explicit          |
| assign/unassign shard (T3)        | shard_id filter (partition pruning upstream)      |
| next()/stream()                   | the streaming DataFrame itself + trigger          |
| ack/commit (D4/D5)                | checkpoint commits offset ranges per micro-batch  |

Per-message acks (D4/D5) deliberately have no per-row analog: Spark commits
offset *ranges* per micro-batch from the WAL/checkpoint, which subsumes the
reference's Delayed/Rolling commit machinery (SURVEY §2.5). This is a
documented semantic mapping, not an emulation.

Backends resolve by URI scheme in :func:`..uri.reader_config`
(socket/src/streamer.rs:203-245 analog): ``kafka://`` → built-in Kafka
source; ``file://<dir>`` → file streaming source over envelope parquet (the
replay backend used in tests); ``redis://`` / ``iggy://`` → the sea_redis /
sea_iggy DataSources (sources/redis_datasource.py, sources/iggy_datasource.py).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field
from datetime import datetime
from typing import Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import StreamErr
from ..model import MESSAGE_SCHEMA
from ..session import prepare
from ..uri import StreamUrl, reader_config


class ConsumerMode(enum.Enum):
    """types/src/consumer.rs:4-15."""

    RealTime = "real-time"
    Resumable = "resumable"
    LoadBalanced = "load-balanced"


class _Special(enum.Enum):
    Beginning = "beginning"
    End = "end"


#: SeqPos = Beginning | End | At(seq_no)  (types/src/stream.rs:34-40)
SeqPos = Union[_Special, int]
Beginning = _Special.Beginning
End = _Special.End


@dataclass
class ConsumerOptions:
    mode: ConsumerMode = ConsumerMode.RealTime
    group: str | None = None
    checkpoint_dir: str | None = None
    #: T1 seek target — timestamp-exclusive (file/src/messages.rs:262-279)
    seek_to: datetime | None = None
    #: T2 rewind target
    rewind_to: SeqPos | None = None
    #: T3 assigned shards (empty = all)
    assigned_shards: tuple[int, ...] = field(default_factory=tuple)
    #: cap per micro-batch (the paged-read analog, node.rs:141-157)
    max_offsets_per_trigger: int | None = None


@dataclass
class Consumer:
    """A handle pairing a streaming envelope DataFrame with its options.

    The reference's ``next()`` pull loop becomes the streaming DataFrame:
    attach any transformation and start a query. ``seek``/``rewind``/
    ``assign`` return a *new* consumer (Spark restarts a query to change
    offsets — the latch-drain dance of T5 disappears)."""

    spark: SparkSession
    url: StreamUrl
    options: ConsumerOptions
    _df: DataFrame

    def dataframe(self) -> DataFrame:
        df = self._df
        if self.url.streams:
            df = df.filter(F.col("stream_key").isin(list(self.url.streams)))
        if self.options.assigned_shards:
            df = df.filter(F.col("shard_id").isin(list(self.options.assigned_shards)))
        if self.options.seek_to is not None:
            df = df.filter(F.col("timestamp") > F.lit(self.options.seek_to))
        if isinstance(self.options.rewind_to, int):
            df = df.filter(F.col("sequence") >= self.options.rewind_to)
        return df

    def seek(self, to: datetime) -> "Consumer":
        """T1: resume strictly after `to` (exclusive timestamp)."""
        return Consumer(
            self.spark, self.url, _replace(self.options, seek_to=to, rewind_to=None), self._df
        )

    def seek_running(self, query, to: datetime) -> "Consumer":
        """T5 seek latch: re-seek while a query is RUNNING. The reference
        must drain in-flight messages until a sentinel round-trips its
        internal stream before the new position takes effect
        (redis/src/consumer/mod.rs:169-184, node.rs:221-243; file pulse
        file/src/consumer/mod.rs:134-155) because its pull loop buffers
        ahead. On Spark the micro-batch boundary IS the latch: ``stop()``
        ends the in-flight batch (committed = delivered *before* the seek,
        which the latch permits; uncommitted = never observed), and every
        batch of the restarted query carries the new exclusive-timestamp
        predicate — no stale message can be delivered after this returns.
        The caller starts a new sink query from the returned consumer."""
        query.stop()
        query.awaitTermination()
        return self.seek(to)

    def rewind(self, pos: SeqPos) -> "Consumer":
        """T2: Beginning replays all; End = only new data; At(n) inclusive."""
        return Consumer(
            self.spark, self.url, _replace(self.options, rewind_to=pos, seek_to=None), self._df
        )

    def assign(self, *shards: int) -> "Consumer":
        """T3: pin this consumer to explicit shards (types/src/consumer.rs:77-81)."""
        return Consumer(
            self.spark, self.url, _replace(self.options, assigned_shards=shards), self._df
        )

    def discover_shards(self) -> list[int] | None:
        """Fetch shard metadata for this consumer's stream — the metadata
        half of T4 (kafka/src/consumer.rs:426-445 fetches topic metadata to
        learn the partition list). Redis backends enumerate ``key:N``
        sub-streams via SCAN (H4, shard.rs:38-93); the file/envelope backend
        reads the distinct ``shard_id``s from the log (a bounded
        metadata-scale scan of one column, never the payloads). Kafka
        returns ``None``: Spark's source owns partition metadata natively,
        so there is nothing to fetch driver-side."""
        fmt, opts = reader_config(self.url)
        if fmt == "sea_redis":
            from ..sources.redis_datasource import make_client
            from .redis import discover_shards

            return discover_shards(make_client(opts), opts["stream_key"])
        if fmt == "parquet":
            rows = (
                self.spark.read.schema(MESSAGE_SCHEMA)
                .parquet(opts["path"])
                .select("shard_id")
                .distinct()
                .collect()
            )
            return sorted(int(r.shard_id) for r in rows) or [0]
        return None

    def reassign(self) -> "Consumer":
        """T4 ``reassign_partitions``: fetch metadata and self-assign ALL
        shards (kafka/src/consumer.rs:426-452 — the reference's recovery
        move after manual assignment narrowed the consumer). Where the
        backend exposes shard metadata the assignment is explicit (so a
        subsequent ``unassign`` can narrow it again); on Kafka it clears
        the manual assignment and lets the source's native subscription
        own every partition — the same observable semantics."""
        shards = self.discover_shards()
        return Consumer(
            self.spark,
            self.url,
            _replace(self.options, assigned_shards=tuple(shards) if shards else ()),
            self._df,
        )

    def unassign(self, *shards: int) -> "Consumer":
        """T3: remove shards from the assignment; removing the last one
        errors like the reference (types/src/consumer.rs:83-85 — a consumer
        must stream from somewhere)."""
        if not self.options.assigned_shards:
            raise StreamErr("unassign without prior assign")
        left = tuple(s for s in self.options.assigned_shards if s not in shards)
        if not left:
            raise StreamErr("cannot unassign the last shard")
        return Consumer(
            self.spark, self.url, _replace(self.options, assigned_shards=left), self._df
        )

    def start_to_memory(self, name: str, await_termination: bool = True):
        """Run with an availableNow trigger into a memory sink (bounded
        replay — the test harness pattern; D10 EOS ≈ availableNow)."""
        writer = (
            self.dataframe()
            .writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
        )
        if self.options.mode is ConsumerMode.Resumable:
            if not self.options.checkpoint_dir:
                raise ValueError("Resumable mode requires checkpoint_dir (D2)")
            writer = writer.option("checkpointLocation", self.options.checkpoint_dir)
        q = writer.start()
        if await_termination:
            q.awaitTermination()
        return q

    def start_to_parquet(self, out_dir: str, await_termination: bool = True):
        """Durable sink with checkpoint recovery — the Resumable (D2) path:
        restarting with the same checkpoint resumes exactly where the
        previous query committed, no redelivery."""
        if self.options.mode is not ConsumerMode.Resumable or not self.options.checkpoint_dir:
            raise ValueError("parquet sink resume requires Resumable mode + checkpoint_dir")
        q = (
            self.dataframe()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", self.options.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        if await_termination:
            q.awaitTermination()
        return q


def _replace(opts: ConsumerOptions, **kw) -> ConsumerOptions:
    from dataclasses import replace

    return replace(opts, **kw)


def create_consumer(
    spark: SparkSession, url: str | StreamUrl, options: ConsumerOptions | None = None
) -> Consumer:
    """Backend dispatch by URI scheme → streaming envelope DataFrame: the
    source and its options are :func:`..uri.reader_config`'s; this adds the
    consumer-mode mapping and registers the Python DataSource it names."""
    prepare(spark)
    if isinstance(url, str):
        url = StreamUrl.parse(url)
    options = options or ConsumerOptions()
    fmt, opts = reader_config(url)  # stdio:// and memory:// raise here
    if fmt == "kafka":
        df = _kafka_reader(spark, url, options)
    elif fmt == "parquet":
        df = _file_reader(spark, opts["path"], options)
    elif fmt in ("sea_redis", "sea_iggy"):
        # one task per shard, offsets in the checkpoint (sources/offset_log.py)
        url.stream_key()  # NotOneStreamKey unless the URL names one stream
        _register_source(spark, fmt)
        if fmt == "sea_iggy":
            from ..sources.iggy_datasource import make_iggy_client

            make_iggy_client(opts)  # no live iggy client here: fail at connect time
        opts["starting_offsets"] = _starting_offsets(options)
        df = spark.readStream.format(fmt).options(**opts).load()
    else:
        raise ValueError(f"unsupported consumer scheme {url.streamer.scheme!r}")
    return Consumer(spark, url, options, df)


def _register_source(spark: SparkSession, fmt: str) -> None:
    """Register the Python DataSource behind ``sea_redis`` / ``sea_iggy``."""
    if fmt == "sea_redis":
        from ..sources.redis_datasource import SeaRedisDataSource as source
    else:
        from ..sources.iggy_datasource import SeaIggyDataSource as source
    spark.dataSource.register(source)


def _starting_offsets(options: ConsumerOptions) -> str:
    """D1-D3 → the ``starting_offsets`` of the Redis and Iggy sources:
    RealTime tails from End; Resumable and LoadBalanced start at Beginning
    with the checkpoint owning progress; an explicit rewind overrides. (Kafka
    maps LoadBalanced to ``latest`` instead — see :func:`kafka_options`.)"""
    if options.rewind_to is Beginning:
        return "earliest"
    if options.rewind_to is End:
        return "latest"
    return "latest" if options.mode is ConsumerMode.RealTime else "earliest"


def kafka_options(
    url: StreamUrl, options: ConsumerOptions, client=None
) -> dict[str, str]:
    """The D1-D3/T1-T2 → Kafka-source option mapping, as pure data (so the
    semantics are testable without a broker): Resumable starts earliest (the
    checkpoint owns progress), RealTime latest; rewind overrides; seek is
    timestamp-exclusive (+1 ms, types/src/consumer.rs:62-67).

    ``client`` optionally carries the rdkafka-level surface (a
    :class:`..streaming.kafka.KafkaConsumerOptions` /
    ``KafkaConnectOptions`` pair or dict) — forwarded verbatim through
    Spark's ``kafka.`` passthrough (kafka.py:to_spark_options), byte-exact
    with the reference's make_client_config strings."""
    _, opts = reader_config(url)
    opts.setdefault("subscribe", "")
    opts["startingOffsets"] = "earliest" if options.mode is ConsumerMode.Resumable else "latest"
    if options.rewind_to is Beginning:
        opts["startingOffsets"] = "earliest"
    elif options.rewind_to is End:
        opts["startingOffsets"] = "latest"
    if options.seek_to is not None:
        ms = int(options.seek_to.timestamp() * 1000) + 1  # T1 is exclusive
        opts["startingTimestamp"] = str(ms)
    if options.group:
        opts["groupIdPrefix"] = options.group
    if options.max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(options.max_offsets_per_trigger)
    if client is not None:
        from .kafka import to_spark_options

        if isinstance(client, dict):
            cfg = dict(client)
        else:
            cfg = {}
            client.make_client_config(cfg)
        opts.update(to_spark_options(cfg))
    return opts


def _kafka_reader(spark: SparkSession, url: StreamUrl, options: ConsumerOptions) -> DataFrame:
    """Built-in Kafka source → envelope columns (S1). The Kafka row schema
    (topic/partition/offset/timestamp/value) is isomorphic to the envelope."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_options(url, options).items():
        reader = reader.option(k, v)
    return reader.load().select(
        F.col("topic").alias("stream_key"),
        F.col("partition").cast("long").alias("shard_id"),
        F.col("offset").alias("sequence"),
        F.col("timestamp"),
        F.col("value").alias("payload"),
    )


def _file_reader(spark: SparkSession, path: str, options: ConsumerOptions) -> DataFrame:
    """File replay backend (S8/S10 analog): a directory of envelope parquet
    consumed as a stream — new files are discovered like `tail -f`; bounded
    replay uses an availableNow trigger (EOS, D10).

    ``max_offsets_per_trigger`` maps to ``maxFilesPerTrigger`` here (P4:
    the paged-read cap; the file backend's read unit is a log segment
    file, so capping files per micro-batch is the same knob Kafka's
    offset cap turns — node.rs:141-157)."""
    per_trigger = options.max_offsets_per_trigger or 8
    return (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", str(per_trigger))
        .parquet(path)
    )


@dataclass
class Streamer:
    """The connected streamer handle (types/src/streamer.rs:41-86 —
    ``SeaStreamer::connect(uri)`` → ``create_consumer``/``create_producer``).
    Spark needs no connection state: the handle just binds (spark, url) so
    the factory surface matches the reference 1:1."""

    spark: SparkSession
    url: StreamUrl

    def _with_streams(self, streams: list[str] | None) -> StreamUrl:
        if streams is None:
            return self.url
        from ..model import StreamKey

        return StreamUrl(self.url.streamer, tuple(StreamKey(s) for s in streams))

    def create_consumer(
        self, streams: list[str] | None = None, options: ConsumerOptions | None = None
    ) -> "Consumer":
        return create_consumer(self.spark, self._with_streams(streams), options)

    def create_producer(self, stream: str | None = None):
        from .producer import create_producer as _cp

        p = _cp(self.spark, self.url)
        return p.anchor(stream) if stream else p

    def disconnect(self) -> None:
        """No-op: Spark sources connect per started query (documented
        mapping of streamer.rs:55-58)."""


def connect(spark: SparkSession, uri: str | StreamUrl) -> Streamer:
    """``SeaStreamer::connect`` analog: parse the URI, return a Streamer."""
    url = StreamUrl.parse(uri) if isinstance(uri, str) else uri
    return Streamer(spark, url)
