"""Redis Streams as a registered Spark DataSource: ``format("sea_redis")``.

The reference's Redis backend is its richest: a bespoke consumer engine with
per-shard cursors, paged XRANGE reads and resumable commits
(redis/src/consumer/node.rs:448-610). On Spark that engine *is* the
micro-batch machinery; what remains is the offset model, re-expressed
through the Python DataSource API:

- **offset** = per-shard packed MessageId ``(ms << 16) | seq16``
  (redis/src/message.rs:27-88) — checkpointed by Spark as the stream's
  progress, which is exactly the reference's Resumable mode (D2) with
  range-commits instead of per-message acks (D4 mapping, SURVEY §2.5).
- **partition** = one Redis shard key (``stream`` / ``stream:N``, H1), so
  shard-parallelism maps 1:1 onto task-parallelism; shard discovery is a
  ``SCAN MATCH stream*`` at every ``latestOffset`` poll (H4,
  redis/src/consumer/shard.rs:38-93), so shards appearing mid-stream are
  picked up and read from Beginning.
- **read** = bounded ``XRANGE (after-start .. end]`` per shard, executed on
  executors with a per-task client — the paged read of node.rs:528-570 with
  the bounds supplied by the planned micro-batch instead of a blocking loop.

Client dispatch: ``fake_root`` option → the file-backed loopback broker
(:mod:`..streaming.fake_redis`), which separate executor processes share —
the full partitioned path runs end-to-end in-container; ``host``/``port`` →
redis-py (not bundled here; the code path is identical except the client
constructor).

Usage::

    from sea_streamer_spark.sources.redis_datasource import SeaRedisDataSource
    spark.dataSource.register(SeaRedisDataSource)
    df = (spark.readStream.format("sea_redis")
          .option("stream_key", "events").option("fake_root", "/tmp/broker")
          .load())

Batch reads (``spark.read.format("sea_redis")``) implement the bounded
XRANGE scan (S7, redis/src/manager.rs:70-105): optional ``min_seq`` /
``max_seq`` packed-id bounds, one task per shard.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)

from ..model import ENVELOPE_DDL, client_opts
from ..streaming.redis import (
    format_entry_id,
    next_after,
    parse_entry_id,
    parse_shard_key,
    shard_key,
)

def make_client(opts: dict):
    """Build the Redis client from plain string options — callable on the
    driver (offset planning) and on executors (partition reads).

    Dispatch: ``fake_root`` → the file-backed loopback broker; ``host`` /
    ``port`` → redis-py when installed, else the in-repo RESP2 wire client
    (:mod:`..streaming.resp` — speaks the real protocol, so it talks to a
    real Redis identically; in-container it is e2e-proven against the RESP
    TCP server fronting the broker model)."""
    root = opts.get("fake_root")
    if root:
        from ..streaming.fake_redis import FakeRedis

        return FakeRedis(root=root)
    host = opts.get("host", "localhost")
    port = int(opts.get("port", "6379"))
    try:
        import redis
    except ImportError:
        from ..streaming.resp import RespClient

        return RespClient(host=host, port=port)
    return redis.Redis(host=host, port=port, decode_responses=False)


def _as_str(v) -> str:
    return v.decode() if isinstance(v, (bytes, bytearray)) else v


def discover_shard_ids(client, stream_key: str) -> list[int]:
    """H4 shard discovery, client-agnostic (redis-py yields bytes keys)."""
    shards = set()
    for key in client.scan_iter(match=f"{stream_key}*"):
        try:
            shards.add(parse_shard_key(_as_str(key), stream_key))
        except ValueError:
            continue  # unrelated key sharing the prefix
    return sorted(shards) or [0]


def _read_shard_range(client, stream_key: str, sid: int, start_seq: int, end_seq: int):
    """``XRANGE (start_seq .. end_seq]`` on one shard → envelope tuples.
    ``start_seq < 0`` means Beginning (SeqPos::Beginning, stream.rs:34-40)."""
    key = shard_key(stream_key, sid)
    lo = "-" if start_seq < 0 else format_entry_id(next_after(start_seq))
    hi = "+" if end_seq is None else format_entry_id(end_seq)
    for entry_id, fields in client.xrange(key, min=lo, max=hi):
        seq_no = parse_entry_id(_as_str(entry_id))
        ms = seq_no >> 16
        payload = fields.get("payload", fields.get(b"payload", b""))
        yield (
            stream_key,
            sid,
            seq_no,
            datetime.fromtimestamp(ms / 1000, tz=timezone.utc),
            bytes(payload) if payload is not None else b"",
        )


class RedisShardPartition(InputPartition):
    def __init__(self, stream_key: str, shard_id: int, start_seq: int, end_seq: int | None, opts: dict):
        self.stream_key = stream_key
        self.shard_id = shard_id
        self.start_seq = start_seq  # exclusive; -1 = Beginning
        self.end_seq = end_seq  # inclusive; None = to tail (batch mode)
        self.opts = opts


class SeaRedisStreamReader(DataSourceStreamReader):
    """Micro-batch reader: offsets = ``{"offsets": {shard_id: packed_id}}``."""

    def __init__(self, options):
        self.stream_key = options.get("stream_key")
        if not self.stream_key:
            raise ValueError("sea_redis requires a stream_key option")
        self.starting = options.get("starting_offsets", "earliest")
        self.opts = client_opts(options)
        self._client = make_client(self.opts)  # driver-side, planning only

    def _tail(self, sid: int) -> int:
        entries = self._client.xrevrange(shard_key(self.stream_key, sid), count=1)
        return parse_entry_id(_as_str(entries[0][0])) if entries else -1

    def initialOffset(self) -> dict:
        shards = discover_shard_ids(self._client, self.stream_key)
        if self.starting == "latest":
            # End: only entries produced after the query starts (D1 RealTime)
            return {"offsets": {str(s): self._tail(s) for s in shards}}
        return {"offsets": {str(s): -1 for s in shards}}

    def latestOffset(self) -> dict:
        shards = discover_shard_ids(self._client, self.stream_key)
        return {"offsets": {str(s): self._tail(s) for s in shards}}

    def partitions(self, start: dict, end: dict):
        souts = start.get("offsets", {})
        parts = []
        for sid_str, end_seq in end.get("offsets", {}).items():
            start_seq = int(souts.get(sid_str, -1))
            if end_seq is None or int(end_seq) <= start_seq:
                continue  # nothing new on this shard
            parts.append(
                RedisShardPartition(
                    self.stream_key, int(sid_str), start_seq, int(end_seq), self.opts
                )
            )
        return parts

    def read(self, partition: RedisShardPartition):
        client = make_client(partition.opts)  # per-task client (executor-side)
        yield from _read_shard_range(
            client,
            partition.stream_key,
            partition.shard_id,
            partition.start_seq,
            partition.end_seq,
        )

    def commit(self, end: dict) -> None:
        # Progress is owned by Spark's checkpoint (D2); nothing to ack (D4).
        pass


class SeaRedisBatchReader(DataSourceReader):
    """S7 bounded scan (``RedisManager::range``, manager.rs:70-105): one task
    per shard, optional packed-id bounds pushed into the XRANGE itself."""

    def __init__(self, options):
        self.stream_key = options.get("stream_key")
        if not self.stream_key:
            raise ValueError("sea_redis requires a stream_key option")
        self.min_seq = int(options.get("min_seq", "-1"))
        self.max_seq = int(options["max_seq"]) if options.get("max_seq") else None
        self.opts = client_opts(options)

    def partitions(self):
        client = make_client(self.opts)
        return [
            RedisShardPartition(
                self.stream_key,
                sid,
                # min_seq is an inclusive lower bound here; the shared range
                # reader treats start as exclusive, so step one back.
                self.min_seq - 1 if self.min_seq >= 0 else -1,
                self.max_seq,
                self.opts,
            )
            for sid in discover_shard_ids(client, self.stream_key)
        ]

    def read(self, partition: RedisShardPartition):
        client = make_client(partition.opts)
        yield from _read_shard_range(
            client,
            partition.stream_key,
            partition.shard_id,
            partition.start_seq,
            partition.end_seq,
        )


class RedisWriteReceipt(WriterCommitMessage):
    """Per-task commit message: the shard keys touched + rows written (the
    D9 receipt aggregate — the ids themselves are the per-row receipts)."""

    def __init__(self, keys: list[str], rows: int):
        self.keys = keys
        self.rows = rows


class SeaRedisStreamWriter(DataSourceStreamWriter):
    """Registered streaming sink: ``writeStream.format("sea_redis")``.

    Each task pipelines its partition's rows as explicit-id XADDs in (key,
    entry-id) order — sorted in-task, so any upstream layout yields per-task
    monotonic ids; for global per-shard monotonicity partition the query by
    (stream_key, shard_id) upstream (what ``redis_sink_foreach_batch`` — the
    turnkey path — does for you). Explicit ids make micro-batch replays and
    task retries idempotent: duplicate-id rejections are the expected no-op
    (redis/src/producer.rs:403-410 + SURVEY §2.5). ``maxlen`` retention runs
    once per micro-batch at commit time on the driver (S6), against the keys
    the tasks report in their commit messages."""

    def __init__(self, options):
        self.opts = client_opts(options)
        self.maxlen = int(options["maxlen"]) if options.get("maxlen") else None

    def write(self, iterator) -> RedisWriteReceipt:
        from ..streaming.redis import _flush_xadds

        rows = sorted(
            iterator, key=lambda r: (r.stream_key, r.shard_id, r.timestamp, r.sequence)
        )
        if not rows:
            return RedisWriteReceipt([], 0)
        client = make_client(self.opts)
        _flush_xadds(client, rows, None)
        keys = sorted({shard_key(r.stream_key, int(r.shard_id)) for r in rows})
        return RedisWriteReceipt(keys, len(rows))

    def commit(self, messages, batchId: int) -> None:
        if self.maxlen is None:
            return
        touched = sorted({k for m in messages if m is not None for k in m.keys})
        if touched:
            client = make_client(self.opts)
            for key in touched:
                client.xtrim(key, maxlen=self.maxlen, approximate=True)

    def abort(self, messages, batchId: int) -> None:
        # XADDs are not transactional; completed writes stay and the replay
        # of this micro-batch no-ops on them (explicit ids). Nothing to undo.
        pass


class SeaRedisDataSource(DataSource):
    """spark.dataSource.register(SeaRedisDataSource) → ``format("sea_redis")``."""

    @classmethod
    def name(cls) -> str:
        return "sea_redis"

    def schema(self) -> str:
        return ENVELOPE_DDL

    def reader(self, schema) -> SeaRedisBatchReader:
        return SeaRedisBatchReader(self.options)

    def streamReader(self, schema) -> SeaRedisStreamReader:
        return SeaRedisStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> SeaRedisStreamWriter:
        return SeaRedisStreamWriter(self.options)
