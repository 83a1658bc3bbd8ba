"""Redis Streams backend (S4/S5): offset model + connector scaffolding.

The genuinely custom piece of the reference is its Redis consumer engine
(SURVEY §3.1); on Spark the equivalent is a connector whose *offset model*
feeds the checkpoint contract. That model is implemented and unit-tested
here; the live wire protocol uses ``redis-py`` when installed and otherwise
the in-repo RESP2 client (:mod:`.resp` — the real protocol, e2e-proven
against the RESP TCP server in :mod:`.resp_server`).

Offset model (redis/src/message.rs:27-88): a Redis stream entry id is
``<ms>-<seq>``; the reference packs it into a single u64 SeqNo as
``(ms << 16) | (seq & 0xFFFF)`` — 48-bit millis (max year 10889) + 16-bit
sub-millisecond sequence (≤65,536 msgs/ms/shard). Shards are separate Redis
keys ``stream:shard`` (H1); discovery is ``SCAN MATCH key:*`` (H4).

Spark mapping:

- source: micro-batch polling — each batch issues ``XRANGE key (last_id +``
  ``endingOffset COUNT n`` per shard; the checkpointed offset is the packed
  MessageId per (stream, shard) — exactly the reference's Resumable commit
  (D2), but committed as a range per batch instead of per-message acks (D4).
- sink: ``foreachBatch`` pipelining ``XADD key id payload`` with explicit
  ids derived from (timestamp, sequence) → idempotent replay (D9 receipts =
  the ids themselves).
- XTRIM retention (S6) is a maintenance call in the same foreachBatch.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame

MAX_SEQ16 = 0xFFFF


def pack_message_id(ms: int, seq: int) -> int:
    """(ms, seq16) → u64 SeqNo (redis/src/message.rs:84-88)."""
    if not 0 <= seq <= MAX_SEQ16:
        raise ValueError(f"sub-ms sequence out of range: {seq}")
    if ms < 0 or ms >= 1 << 48:
        raise ValueError(f"millis out of range: {ms}")
    return (ms << 16) | seq


def unpack_message_id(seq_no: int) -> tuple[int, int]:
    """u64 SeqNo → (ms, seq16) (redis/src/message.rs:27-64)."""
    return seq_no >> 16, seq_no & MAX_SEQ16


#: Redis entry-id timestamp field is u64; with nanosecond timestamps that
#: caps at 2554-07-21T23:34:33 (redis/src/message.rs:33-35).
MAX_TS_NANOS = (1 << 64) - 1


def pack_message_id_wide(ns: int, seq: int) -> int:
    """(unix-ns, seq16) → wide SeqNo — the reference's ``wide-seq-no`` +
    ``nanosecond-timestamp`` opt-in pair (types/Cargo.toml:29;
    TimestampFormat::UnixTimestampNanos, redis/src/streamer.rs:41-47):
    SeqNo widens to u128 and the entry-id timestamp field carries NANOS,
    same ``(ts << 16) | seq`` packing (message.rs:51-60). The result needs
    ≤ 80 bits — carried on Spark as ``decimal(38,0)``
    (:func:`wide_sequence_col`), never squeezed into the i64 envelope
    column. Validation parity: seq > 0xFFFF raises exactly as
    parse_message_id does (message.rs:40-44); ns is capped by the entry
    id's u64 timestamp field (year 2554, message.rs:33-35)."""
    if not 0 <= seq <= MAX_SEQ16:
        raise ValueError(f"sub-ns sequence out of range: {seq}")
    if ns < 0 or ns > MAX_TS_NANOS:
        raise ValueError(f"nanos out of range: {ns}")
    return (ns << 16) | seq


def unpack_message_id_wide(seq_no: int) -> tuple[int, int]:
    """wide SeqNo → (unix-ns, seq16) (from_seq_no, message.rs:85-89)."""
    return seq_no >> 16, seq_no & MAX_SEQ16


def format_entry_id_wide(seq_no: int) -> str:
    """Wide SeqNo → Redis ``<ns>-<seq>`` entry id (nanosecond format)."""
    ns, seq = unpack_message_id_wide(seq_no)
    return f"{ns}-{seq}"


def parse_entry_id_wide(entry_id: str) -> int:
    """Redis ``<ns>-<seq>`` entry id → wide SeqNo (nanosecond format)."""
    ns_str, _, seq_str = entry_id.partition("-")
    return pack_message_id_wide(int(ns_str), int(seq_str or 0))


def wide_sequence_col(timestamp_col: str = "timestamp", seq16_col=None):
    """JVM-side wide-SeqNo column: ``decimal(38,0)`` of
    ``unix-ns(timestamp) * 2^16 + seq16``. Spark timestamps are µs
    precision, so ns = unix_micros * 1000 (the sub-µs digits a true ns
    clock would add must ride in ``seq16_col`` or a dedicated ns column).
    Pure projection — no shuffle, no Python."""
    from pyspark.sql import functions as F

    ns = F.unix_micros(F.col(timestamp_col)).cast("decimal(38,0)") * 1000
    seq = (
        F.lit(0)
        if seq16_col is None
        else (F.col(seq16_col) % (MAX_SEQ16 + 1)).cast("decimal(38,0)")
    )
    return (ns * (MAX_SEQ16 + 1) + seq).cast("decimal(38,0)")


def format_entry_id(seq_no: int) -> str:
    """Packed SeqNo → Redis ``<ms>-<seq>`` entry id."""
    ms, seq = unpack_message_id(seq_no)
    return f"{ms}-{seq}"


def parse_entry_id(entry_id: str) -> int:
    """Redis ``<ms>-<seq>`` entry id → packed SeqNo."""
    ms_str, _, seq_str = entry_id.partition("-")
    return pack_message_id(int(ms_str), int(seq_str or 0))


def next_after(seq_no: int) -> int:
    """Exclusive XRANGE start: the id immediately after ``seq_no`` —
    increment seq16, carrying into ms (the reference reads from
    ``(ms, u16::MAX)`` on seek, consumer/mod.rs:89-99)."""
    ms, seq = unpack_message_id(seq_no)
    if seq < MAX_SEQ16:
        return pack_message_id(ms, seq + 1)
    return pack_message_id(ms + 1, 0)


def shard_key(stream_key: str, shard_id: int) -> str:
    """Sharded Redis key ``STREAM_KEY:SHARD_ID`` (redis/src/producer.rs:68-77);
    shard 0 uses the bare key (shard.rs default-shard behavior)."""
    return stream_key if shard_id == 0 else f"{stream_key}:{shard_id}"


def parse_shard_key(key: str, stream_key: str) -> int:
    """Inverse of :func:`shard_key`: ``events:3`` → 3; bare key → shard 0."""
    if key == stream_key:
        return 0
    prefix = f"{stream_key}:"
    if not key.startswith(prefix):
        raise ValueError(f"key {key!r} does not belong to stream {stream_key!r}")
    return int(key[len(prefix):])


def _as_str(v) -> str:
    return v.decode() if isinstance(v, (bytes, bytearray)) else v


def discover_shards(client, stream_key: str) -> list[int]:
    """H4 shard discovery: ``SCAN MATCH key*`` → shard ids (shard.rs:38-93).
    Works against any client exposing ``scan_iter`` (redis-py, which yields
    bytes keys, the RESP2 client or the loopback model)."""
    shards = set()
    for key in client.scan_iter(match=f"{stream_key}*"):
        try:
            shards.add(parse_shard_key(_as_str(key), stream_key))
        except ValueError:
            continue  # unrelated key sharing the prefix
    return sorted(shards) or [0]


def _xrange_shard(client, stream_key: str, sid: int, after: int, until=None, count=None):
    """``XRANGE (after .. until] COUNT count`` on one shard → envelope tuples.
    ``after < 0`` means Beginning (SeqPos::Beginning, stream.rs:34-40);
    ``until=None`` reads to the tail. The one read path behind both the
    ``sea_redis`` DataSource partitions and :func:`poll_shards`."""
    lo = "-" if after < 0 else format_entry_id(next_after(after))
    hi = "+" if until is None else format_entry_id(until)
    for entry_id, fields in client.xrange(shard_key(stream_key, sid), min=lo, max=hi, count=count):
        seq_no = parse_entry_id(_as_str(entry_id))
        payload = fields.get("payload", fields.get(b"payload", b""))
        yield (
            stream_key,
            sid,
            seq_no,
            datetime.fromtimestamp((seq_no >> 16) / 1000, tz=timezone.utc),
            bytes(payload) if payload is not None else b"",
        )


def poll_shards(
    client,
    stream_key: str,
    shard_ids: list[int],
    last_seq_nos: dict[int, int] | None = None,
    count: int = 100,
) -> tuple[list[dict], dict[int, int]]:
    """One micro-batch poll: per shard, ``XRANGE key <after-last> + COUNT n``
    (node.rs:528-570's paged read, minus the blocking — the trigger provides
    the cadence). ``last_seq_nos`` maps shard → last *consumed* packed
    MessageId (exclusive, via :func:`next_after`); absent shard → from
    Beginning. Returns (envelope rows, advanced offsets) — the offsets are
    what a checkpoint persists (D2 Resumable), committed per batch rather
    than per message (D4's mapping).

    ``count`` mirrors the reference's ``batch_size`` default of 100
    (consumer/mod.rs:74-75). Client-agnostic: redis-py or the loopback model.
    """
    last_seq_nos = dict(last_seq_nos or {})
    rows: list[dict] = []
    for sid in shard_ids:
        for key, _, seq_no, ts, payload in _xrange_shard(
            client, stream_key, sid, last_seq_nos.get(sid, -1), count=count
        ):
            rows.append(
                {"stream_key": key, "shard_id": sid, "sequence": seq_no, "timestamp": ts, "payload": payload}
            )
            last_seq_nos[sid] = seq_no
    return rows, last_seq_nos


# ------------------------------------------------------------- producer side


def xadd_commands(
    rows,
    explicit_ids: bool = True,
) -> list[tuple[str, str, bytes]]:
    """Build the pipelined XADD command list for one micro-batch of envelope
    rows (each: .stream_key/.shard_id/.sequence/.timestamp/.payload).

    Explicit entry ids come from the packed MessageId of (event-time ms,
    sequence) — the producer-side receipt (D9). A sequence above the 16-bit
    sub-millisecond budget *raises* (``pack_message_id`` validates), exactly
    as the reference errors on seq > 0xFFFF (redis/src/message.rs
    parse_message_id) — masking would silently collide two distinct messages
    onto one entry id. Explicit ids make replays idempotent: XADD with an id
    at-or-below the stream's last id is rejected by Redis, so a re-delivered
    micro-batch no-ops instead of duplicating (the reference gets the same
    from broker-assigned ids + at-least-once consumers; SURVEY §2.5).

    Consecutive same-key commands group into one pipeline flush exactly like
    the reference's producer batching (redis/src/producer.rs:403-410) —
    returned in order so the caller's pipeline preserves per-key ordering.
    """
    cmds: list[tuple[str, str, bytes]] = []
    for r in rows:
        key = shard_key(r.stream_key, int(r.shard_id))
        if explicit_ids:
            ms = int(r.timestamp.timestamp() * 1000)
            seq = int(r.sequence)
            # validation only — the id formats straight from (ms, seq)
            # without the pack->unpack round-trip (hot path)
            pack_message_id(ms, seq)
            entry_id = f"{ms}-{seq}"
        else:
            entry_id = "*"
        payload = bytes(r.payload) if r.payload is not None else b""
        cmds.append((key, entry_id, payload))
    return cmds


def xtrim_commands(
    stream_key: str,
    shard_ids: list[int],
    maxlen: int | None = None,
    min_ts_ms: int | None = None,
) -> list[tuple[str, str, str, int]]:
    """S6 retention: one approximate XTRIM per shard key — ``MAXLEN ~ n``
    (count-bounded) or ``MINID ~ ms-0`` (time-bounded), mirroring
    redis/src/producer.rs:168-218."""
    if (maxlen is None) == (min_ts_ms is None):
        raise ValueError("exactly one of maxlen / min_ts_ms")
    out = []
    for sid in shard_ids:
        key = shard_key(stream_key, sid)
        if maxlen is not None:
            out.append((key, "MAXLEN", "~", int(maxlen)))
        else:
            out.append((key, "MINID", "~", pack_message_id(min_ts_ms, 0) >> 16))
    return out


def _flush_xadds(client, rows, maxlen: int | None) -> None:
    """Pipeline one ordered run of envelope rows as XADDs (+ optional XTRIM
    per touched key), then *inspect* the results: a duplicate-id rejection is
    the expected idempotent-replay no-op (explicit ids, D9), but any other
    error — connection trouble, OOM, a genuine out-of-order id — re-raises
    instead of being silently swallowed."""
    pipe = client.pipeline(transaction=False)
    touched = set()
    n_adds = 0
    # Fast path when the pipeline is the in-repo RESP client: pre-encoded
    # single-field XADD frames with the key bytes hoisted out of the row
    # loop (one encode per key per flush, not per row). redis-py pipelines
    # don't expose it, so the generic per-row xadd remains the fallback —
    # byte-identical frames either way.
    xadd_raw = getattr(pipe, "xadd_raw", None)
    key_bytes: dict[str, bytes] = {}
    for key, entry_id, payload in xadd_commands(rows):
        if xadd_raw is not None:
            kb = key_bytes.get(key)
            if kb is None:
                kb = key_bytes[key] = key.encode()
                touched.add(key)
            xadd_raw(kb, entry_id.encode(), payload)
        else:
            pipe.xadd(key, {"payload": payload}, id=entry_id)
            touched.add(key)
        n_adds += 1
    if maxlen is not None:
        for key in sorted(touched):
            pipe.xtrim(key, maxlen=maxlen, approximate=True)
    results = pipe.execute(raise_on_error=False)
    for res in results[:n_adds]:
        if isinstance(res, Exception):
            if "equal or smaller" in str(res):
                continue  # replayed id at-or-below the stream top: no-op
            raise res


def redis_sink_foreach_batch(
    url=None,
    maxlen: int | None = None,
    client_factory=None,
    executor_side: bool | None = None,
):
    """foreachBatch writer: XADDs with explicit ids, executed on *executors*.

    Scale path (default for URL-configured or picklable ``client_factory``
    clients): repartition by (stream_key, shard_id) — each Redis key lands in
    exactly one task — then sort within partitions by entry id and pipeline
    per partition. Per-key XADD monotonicity only needs per-shard ordering,
    which this layout gives without any driver materialization; it is the
    distributed analog of the reference's per-key pipelining
    (redis/src/producer.rs:403-410).

    ``executor_side=False`` (the default when an *in-process* client_factory
    is injected, e.g. the in-memory loopback model, whose state can't cross
    process boundaries) falls back to a driver-side ordered pipeline — a
    test-harness path, not the deployment path. The file-backed loopback
    broker (``FakeRedis(root=...)``) works executor-side.
    """
    if executor_side is None:
        executor_side = client_factory is None
    if client_factory is None:
        if url is None:
            raise ValueError("redis sink needs a url or a client_factory")
        from functools import partial

        from ..model import client_opts
        from ..sources.redis_datasource import make_client
        from ..uri import StreamUrl, reader_config

        _, opts = reader_config(StreamUrl(url.streamer))
        client_factory = partial(make_client, client_opts(opts))

    def write_partition(rows) -> None:
        rows = list(rows)
        if not rows:
            return
        _flush_xadds(client_factory(), rows, maxlen)

    def write(batch: DataFrame, batch_id: int) -> None:
        cols = batch.select("stream_key", "shard_id", "sequence", "timestamp", "payload")
        if executor_side:
            # entry id = (event-time ms, seq16): sort within the shard's
            # partition by exactly that to satisfy XADD's monotonic-id rule.
            (
                cols.repartition("stream_key", "shard_id")
                .sortWithinPartitions("stream_key", "shard_id", "timestamp", "sequence")
                .foreachPartition(write_partition)
            )
        else:
            rows = sorted(
                cols.collect(),
                key=lambda r: (r.stream_key, r.shard_id, r.timestamp, r.sequence),
            )
            _flush_xadds(client_factory(), rows, maxlen)

    return write
