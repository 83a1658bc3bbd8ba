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

from pyspark.sql.datasource import DataSource, DataSourceStreamWriter, WriterCommitMessage

from ..model import ENVELOPE_DDL, client_opts
from ..streaming.redis import _as_str, _xrange_shard, discover_shards, parse_entry_id, shard_key
from .offset_log import _LogBatchReader, _LogStreamReader


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


class _RedisShards:
    """The Redis hooks of the offset protocol: one partition per shard key,
    offsets are packed MessageIds."""

    def _configure(self, options) -> None:
        self.stream_key = options.get("stream_key")
        if not self.stream_key:
            raise ValueError("sea_redis requires a stream_key option")
        self.opts = client_opts(options)

    def _connect(self):
        return make_client(self.opts)

    def _ids(self, client) -> list[int]:
        return discover_shards(client, self.stream_key)

    def _tail(self, client, sid: int) -> int:
        entries = client.xrevrange(shard_key(self.stream_key, sid), count=1)
        return parse_entry_id(_as_str(entries[0][0])) if entries else -1

    def _rows(self, client, part):
        return _xrange_shard(client, self.stream_key, part.pid, part.start, part.end)


class SeaRedisStreamReader(_RedisShards, _LogStreamReader):
    """Micro-batch reader: offsets = ``{"offsets": {shard_id: packed_id}}``."""


class SeaRedisBatchReader(_RedisShards, _LogBatchReader):
    """S7 bounded scan (``RedisManager::range``, manager.rs:70-105): one task
    per shard, optional packed-id bounds pushed into the XRANGE itself."""

    lo_option, hi_option = "min_seq", "max_seq"


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
