"""Producer facade: ``create_producer(url) → sink`` (types/src/producer.rs).

The reference's producer is fire-and-forget with awaitable receipts
(producer.rs:12-66); background batching/pipelining (redis producer.rs:285-578)
*is* the micro-batch. Receipts map to the sink commit log / query progress —
not per-row futures (documented mapping, SURVEY §2.5 D8-D9).

- ``kafka://`` → ``writeStream.format("kafka")`` (S2); exactly-once via
  checkpoint + idempotent sink rather than Kafka transactions (S3).
- ``file://<dir>`` → parquet append (S9; parquet row-group stats subsume
  beacon indexes — seek-by-time/seq is row-group pruning on read).
- anchored single-stream producers mirror ``anchor()``/``send()``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import ENVELOPE_COLUMNS, StreamKey, client_opts
from ..session import prepare
from ..uri import StreamUrl, reader_config


def kafka_sink_projection(env: DataFrame, pin_partitions: bool = False) -> DataFrame:
    """Envelope → the Kafka sink's column contract (topic, value, key[,
    partition]). Factored out so the mapping is testable without a broker:
    Spark's kafka writer reads an optional int ``partition`` column per row
    (the sink-side analog of rdkafka's explicit-partition send,
    kafka/src/producer.rs:171-185); when absent the broker's default
    partitioner places by key hash."""
    cols = [
        F.col("stream_key").alias("topic"),
        F.col("payload").alias("value"),
        F.col("sequence").cast("string").cast("binary").alias("key"),
    ]
    if pin_partitions:
        cols.append(F.col("shard_id").cast("int").alias("partition"))
    return env.select(*cols)


@dataclass
class Producer:
    spark: SparkSession
    url: StreamUrl
    anchored: StreamKey | None = None

    def anchor(self, stream: str) -> "Producer":
        """producer.rs:52-66: pin this producer to one stream key."""
        return Producer(self.spark, self.url, StreamKey(stream))

    def _prepare_df(self, df: DataFrame) -> DataFrame:
        if self.anchored is not None and "stream_key" not in df.columns:
            df = df.withColumn("stream_key", F.lit(str(self.anchored)))
        missing = [c for c in ENVELOPE_COLUMNS if c not in df.columns]
        if missing:
            raise ValueError(f"producer needs envelope columns; missing {missing}")
        return df.select(*ENVELOPE_COLUMNS)

    def send_stream(
        self,
        df: DataFrame,
        checkpoint_dir: str,
        trigger_available_now: bool = True,
        pin_partitions: bool = False,
    ):
        """Start a streaming write (send_to, S2/S9). Returns the query.

        ``pin_partitions=True`` is ``send_message``'s explicit-partition
        mode (kafka/src/producer.rs:171-185: a message may carry a pinned
        partition instead of the key-hash default): the envelope's
        ``shard_id`` is projected as the Kafka sink's ``partition`` column,
        which Spark's kafka writer honors row-by-row. Off by default —
        the reference's default path lets the broker partitioner place by
        key (producer.rs:155-169), and so do we."""
        env = self._prepare_df(df)
        # the sink needs the broker, not the stream keys: rows carry those
        fmt, opts = reader_config(StreamUrl(self.url.streamer))
        if fmt == "kafka":
            writer = (
                kafka_sink_projection(env, pin_partitions=pin_partitions)
                .writeStream.format("kafka")
                .options(**opts)
            )
        elif fmt == "parquet":
            writer = env.writeStream.format("parquet").options(**opts)
        elif fmt == "sea_redis":
            # S5 as a registered sink: per-(stream, shard) layout upstream so
            # each shard's explicit XADD ids stay globally monotonic, then
            # the sea_redis stream writer pipelines per task (executor-side).
            from .consumer import _register_source

            _register_source(self.spark, fmt)
            writer = (
                env.repartition("stream_key", "shard_id")
                .writeStream.format(fmt)
                .options(**client_opts(opts))
            )
        else:
            raise ValueError(f"unsupported producer scheme {self.url.streamer.scheme!r}")
        writer = writer.option("checkpointLocation", checkpoint_dir)
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def send_batch(self, df: DataFrame) -> None:
        """Bounded send (flush+end immediately — D8): batch append."""
        env = self._prepare_df(df)
        fmt, opts = reader_config(StreamUrl(self.url.streamer))
        if fmt != "parquet":
            raise ValueError("send_batch supports file:// targets")
        env.write.mode("append").parquet(opts["path"])


def create_producer(spark: SparkSession, url: str | StreamUrl) -> Producer:
    prepare(spark)
    if isinstance(url, str):
        url = StreamUrl.parse(url)
    producer = Producer(spark, url)
    if len(url.streams) == 1:
        producer = producer.anchor(url.streams[0])
    return producer
