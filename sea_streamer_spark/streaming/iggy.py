"""Apache Iggy backend scaffold (S15): option surface + semantic mapping.

The reference's Iggy backend (sea-streamer-iggy, ~1k LoC) has the same shape
as the Redis connector — a polled message log with per-consumer offsets —
so its Spark mapping is the Redis recipe with different enums. The live wire
client (`iggy-py`) is not in this container; what IS implemented here is the
complete option surface and its translation onto the consumer facade, so a
wire client slots in without touching semantics.

| reference (iggy/src/options.rs) | Spark mapping |
|---|---|
| PollingStrategy::Offset(n)     | rewind(At(n)) — startingOffsets |
| PollingStrategy::Timestamp(us) | seek(ts) — startingTimestamp (exclusive) |
| PollingStrategy::First / Last  | rewind(Beginning / End) |
| PollingStrategy::Next          | Resumable mode + checkpoint (D2) |
| AutoCommit::*                  | checkpoint commits offset ranges per batch (D4 analog) |
| Partitioning::Balanced         | repartition(n) round-robin (H2/H3) |
| Partitioning::PartitionId(p)   | lit(p) shard_id column |
| Partitioning::MessageKey(k)    | hash(key) % n shard expression (H1) |
"""

from __future__ import annotations

import enum
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..model import ENVELOPE_COLUMNS
from .consumer import Beginning, ConsumerMode, ConsumerOptions, End, SeqPos


class IggyPollingStrategy(enum.Enum):
    """iggy/src/options.rs:71-84."""

    Offset = "offset"
    Timestamp = "timestamp"
    First = "first"
    Last = "last"
    Next = "next"


class IggyAutoCommit(enum.Enum):
    """iggy/src/options.rs:87-97 — all variants collapse to Spark's
    batch-level offset-range commit; kept for option-surface parity."""

    Disabled = "disabled"
    AfterPolling = "after-polling"
    Interval = "interval"
    IntervalOrAfterPolling = "interval-or-after-polling"


class IggyPartitioning(enum.Enum):
    """iggy/src/options.rs:295-304."""

    Balanced = "balanced"
    PartitionId = "partition-id"
    MessageKey = "message-key"


@dataclass
class IggyConsumerOptions:
    polling: IggyPollingStrategy = IggyPollingStrategy.Next
    polling_arg: int | None = None  # offset or unix-us timestamp
    auto_commit: IggyAutoCommit = IggyAutoCommit.AfterPolling
    batch_size: int = 1000


def consumer_options_for(opts: IggyConsumerOptions, checkpoint_dir: str | None = None) -> ConsumerOptions:
    """Translate Iggy options onto the engine's ConsumerOptions (the same
    facade every backend shares)."""
    base = ConsumerOptions(
        mode=ConsumerMode.Resumable if opts.polling is IggyPollingStrategy.Next else ConsumerMode.RealTime,
        checkpoint_dir=checkpoint_dir,
        max_offsets_per_trigger=opts.batch_size,
    )
    from .consumer import _replace

    if opts.polling is IggyPollingStrategy.First:
        return _replace(base, rewind_to=Beginning)
    if opts.polling is IggyPollingStrategy.Last:
        return _replace(base, rewind_to=End)
    if opts.polling is IggyPollingStrategy.Offset:
        if opts.polling_arg is None:
            raise ValueError("Offset polling requires polling_arg")
        return _replace(base, rewind_to=int(opts.polling_arg))
    if opts.polling is IggyPollingStrategy.Timestamp:
        if opts.polling_arg is None:
            raise ValueError("Timestamp polling requires polling_arg (unix us)")
        return _replace(
            base, seek_to=datetime.fromtimestamp(opts.polling_arg / 1e6, tz=timezone.utc)
        )
    return base


def partition_expr(
    partitioning: IggyPartitioning, num_partitions: int, arg: int | str | None = None
) -> Column:
    """Producer-side shard assignment expression (H1 Sharder analog)."""
    if partitioning is IggyPartitioning.Balanced:
        return F.pmod(F.monotonically_increasing_id(), F.lit(num_partitions)).cast("long")
    if partitioning is IggyPartitioning.PartitionId:
        if arg is None:
            raise ValueError("PartitionId requires the partition number")
        return F.lit(int(arg)).cast("long")
    if partitioning is IggyPartitioning.MessageKey:
        if arg is None:
            raise ValueError("MessageKey requires the key column name")
        return F.pmod(F.abs(F.hash(F.col(str(arg)))), F.lit(num_partitions)).cast("long")
    raise ValueError(partitioning)


def apply_partitioning(
    df: DataFrame,
    partitioning: IggyPartitioning,
    num_partitions: int,
    arg: int | str | None = None,
) -> DataFrame:
    return df.withColumn("shard_id", partition_expr(partitioning, num_partitions, arg))


def _poll_rows(client, stream: str, topic: str, pid: int, **poll):
    """One partition poll → envelope tuples: stream_key = topic, shard_id =
    partition, sequence = server offset, timestamp from the server's
    microsecond clock. The one read path behind both the ``sea_iggy``
    DataSource partitions and :func:`poll_partitions`."""
    for off, ts_us, payload in client.poll_messages(stream, topic, pid, **poll):
        yield (topic, pid, off, datetime.fromtimestamp(ts_us / 1e6, tz=timezone.utc), payload)


def poll_partitions(
    client,
    stream: str,
    topic: str,
    opts: IggyConsumerOptions,
    partition_ids: list[int] | None = None,
    consumer: str = "spark",
) -> list[dict]:
    """One micro-batch poll over the topic's partitions (iggy/src/consumer.rs
    analog): each partition polls with the configured strategy; messages map
    to the canonical envelope. Client-agnostic — iggy-py or fake_iggy.FakeIggy.

    AutoCommit semantics (options.rs:87-97): Disabled never advances the
    server-side consumer offset; every other mode commits what was polled —
    under Spark the checkpoint is the source of truth either way (D4's
    batch-level mapping), the server offset is interop courtesy.
    """
    if partition_ids is None:
        partition_ids = client.partition_ids(stream, topic)
    poll = {
        "strategy": opts.polling.value,
        "value": opts.polling_arg,
        "count": opts.batch_size,
        "consumer": consumer,
        "auto_commit": opts.auto_commit is not IggyAutoCommit.Disabled,
    }
    return [
        dict(zip(ENVELOPE_COLUMNS, row))
        for pid in partition_ids
        for row in _poll_rows(client, stream, topic, pid, **poll)
    ]


def iggy_sink_batch(
    client,
    batch_rows,
    stream: str,
    topic: str,
) -> dict[int, list[int]]:
    """Producer side: group a micro-batch by shard_id and send each group
    in (sequence) order; returns per-partition server-assigned offsets (the
    D9 receipts). Mirrors the per-partition append the reference producer
    performs after Partitioning resolves (iggy/src/producer.rs)."""
    by_part: dict[int, list] = {}
    for r in batch_rows:
        by_part.setdefault(int(r.shard_id), []).append(r)
    receipts: dict[int, list[int]] = {}
    for pid, rows in sorted(by_part.items()):
        rows.sort(key=lambda r: int(r.sequence))
        msgs = [
            (int(r.timestamp.timestamp() * 1_000_000), bytes(r.payload or b""))
            for r in rows
        ]
        receipts[pid] = client.send_messages(stream, topic, pid, msgs)
    return receipts
