"""Core data model: the sea-streamer message envelope on Spark.

The reference's fundamental datum is a byte payload plus a 4-field envelope
``{stream_key, shard_id, sequence, timestamp}`` (reference:
sea-streamer-types/src/message.rs:41-48). ``(stream_key, shard_id, sequence)``
uniquely identifies a message (message.rs:87-90). Stream keys follow Kafka
topic-name rules: ``[a-zA-Z0-9._-]{1,249}`` (stream.rs:6-7, 89-97).

On Spark the envelope is a fixed ``StructType`` deliberately isomorphic to the
built-in Kafka source schema (topic/partition/offset/timestamp/value), so any
transport backend produces interchangeable DataFrames.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: Kafka topic-name rules, mirrored from sea-streamer-types/src/stream.rs:6-7.
MAX_STREAM_KEY_LEN = 249
# fullmatch, and no trailing-$ anchor: Python's ``$`` matches BEFORE a final
# newline, so ``match(...$)`` accepted "0\n" (caught by hypothesis). The
# reference checks every char (types/src/stream.rs:89-95).
_STREAM_KEY_RE = re.compile(r"[a-zA-Z0-9._\-]+")

#: Internal control stream (EOS markers, seek latches) —
#: sea-streamer-types/src/stream.rs (SEA_STREAMER_INTERNAL).
SEA_STREAMER_INTERNAL = "SEA_STREAMER_INTERNAL"
#: Wildcard subscription — subscribe every stream (sea-streamer-file/src/lib.rs:97).
SEA_STREAMER_WILDCARD = "*"
#: End-of-stream payload (sea-streamer-file/src/messages.rs:16).
EOS_PAYLOAD = b"EOS"


class InvalidStreamKey(ValueError):
    pass


class StreamKey(str):
    """A validated stream key (aka topic). stream.rs:89-97 semantics."""

    def __new__(cls, name: str) -> "StreamKey":
        if not is_valid_stream_key(name):
            raise InvalidStreamKey(
                f"invalid stream key {name!r}: must match [a-zA-Z0-9._-]{{1,{MAX_STREAM_KEY_LEN}}}"
            )
        return super().__new__(cls, name)


def is_valid_stream_key(name: str) -> bool:
    return 0 < len(name) <= MAX_STREAM_KEY_LEN and _STREAM_KEY_RE.fullmatch(name) is not None


def is_valid_stream_key_char(c: str) -> bool:
    return len(c) == 1 and _STREAM_KEY_RE.fullmatch(c) is not None


#: The canonical message envelope (sea-streamer-types MessageHeader + payload).
#:
#: Width limits (the reference's DEFAULT build, which this schema matches):
#: ``sequence`` is i64 — the reference's ``SeqNo = u64`` (stream.rs:29); for
#: the Redis backend that packs (48-bit unix-ms << 16 | seq16), i64's sign
#: bit costs nothing until year 10889 / 2^47 ms. ``timestamp`` is Spark's
#: native microsecond TimestampType; the reference default is millisecond.
#: The reference's ``wide-seq-no`` (u128 SeqNo, types/Cargo.toml:29) +
#: ``nanosecond-timestamp`` (TimestampFormat::UnixTimestampNanos,
#: redis/src/streamer.rs:41-47) opt-ins are mirrored by
#: :mod:`.streaming.redis`'s wide mode — ``pack_message_id_wide`` /
#: ``wide_sequence_col`` carry (unix-ns << 16 | seq16) as ``decimal(38,0)``
#: (max ≈ 2^80, comfortably inside 38 digits) in a separate column; the
#: i64 envelope column stays the default exactly as the Cargo default does.
MESSAGE_SCHEMA = StructType(
    [
        StructField("stream_key", StringType(), False),  # stream.rs:16
        StructField("shard_id", LongType(), False),  # stream.rs:22
        StructField("sequence", LongType(), False),  # stream.rs:28
        StructField("timestamp", TimestampType(), False),  # stream.rs:2
        StructField("payload", BinaryType(), True),  # message.rs:20
    ]
)

ENVELOPE_COLUMNS = [f.name for f in MESSAGE_SCHEMA.fields]

#: The envelope as the DDL string the Python data sources (``ss``,
#: ``sea_redis``, ``sea_iggy``) return from ``schema()``. Written out rather
#: than derived from MESSAGE_SCHEMA: a DDL string declares every field
#: nullable, which is the source schema those readers have always exposed.
ENVELOPE_DDL = (
    "stream_key string, shard_id bigint, sequence bigint, "
    "timestamp timestamp, payload binary"
)


def client_opts(options) -> dict:
    """The broker-client options a data source ships to its executors."""
    return {
        k: options.get(k)
        for k in ("fake_root", "host", "port")
        if options.get(k) is not None
    }


def envelope_from_events(events: DataFrame, num_shards: int = 4) -> DataFrame:
    """Project the driver's ``events`` table into the canonical envelope.

    Deterministic mapping (FIXTURES.md §1): ``stream_key = event_type``,
    ``shard_id = user_id % num_shards``, ``sequence = event_id``,
    ``timestamp = ts``, ``payload = props`` (already a JSON string).

    This is the batch stand-in for a live transport in replay/seek/fuse tests
    — every streaming fixture in the reference test suite (SURVEY §5) is
    replayed from it. Scale note: a pure projection — no shuffle; the
    ``pmod`` sharding matches the producer-side ``Sharder`` contract
    (redis/src/producer.rs:61-77).
    """
    return events.select(
        F.col("event_type").alias("stream_key"),
        F.pmod(F.col("user_id"), F.lit(num_shards)).cast("long").alias("shard_id"),
        F.col("event_id").alias("sequence"),
        F.col("ts").alias("timestamp"),
        F.col("props").cast("binary").alias("payload"),
    )


def identifier(prefix: str = "") -> list[Column]:
    """The unique message identifier columns (message.rs:87-90)."""
    p = f"{prefix}." if prefix else ""
    return [F.col(p + "stream_key"), F.col(p + "shard_id"), F.col(p + "sequence")]


def validate_envelope(df: DataFrame) -> DataFrame:
    """Assert a DataFrame carries the envelope columns (types checked lazily)."""
    missing = [c for c in ENVELOPE_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(f"not an envelope DataFrame; missing columns {missing}")
    return df
