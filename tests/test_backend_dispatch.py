"""Backend dispatch pins: a ``file://`` URL resolves (via
``uri.reader_config``) to a source Spark can load, and Redis shard
discovery and reads accept the bytes keys and ids a redis-py client
(``decode_responses=False``) returns."""

from __future__ import annotations

from datetime import datetime, timezone

from sea_streamer_spark.model import MESSAGE_SCHEMA
from sea_streamer_spark.streaming.fake_redis import FakeRedis
from sea_streamer_spark.streaming.redis import discover_shards, poll_shards, shard_key
from sea_streamer_spark.uri import reader_config


class _BytesRedis(FakeRedis):
    """The loopback broker answering like redis-py without response
    decoding: SCAN keys and XRANGE entry ids and field names are bytes."""

    def scan_iter(self, match: str = "*"):
        for key in super().scan_iter(match=match):
            yield key.encode()

    def xrange(self, key, min="-", max="+", count=None):  # noqa: A002
        return [
            (entry_id.encode(), {k.encode() if isinstance(k, str) else k: v for k, v in fields.items()})
            for entry_id, fields in super().xrange(key, min=min, max=max, count=count)
        ]


def _broker(tmp_path) -> _BytesRedis:
    client = _BytesRedis(root=str(tmp_path / "broker"))
    for sid in (0, 1, 2):
        for i in range(3):
            client.xadd(shard_key("ev", sid), {"payload": f"{sid}-{i}".encode()}, id=f"{1000 + i}-{sid}")
    client.xadd("evx", {"payload": b"other stream"}, id="1-0")  # shares the prefix only
    return client


def test_discover_shards_accepts_bytes_keys(tmp_path):
    assert discover_shards(_broker(tmp_path), "ev") == [0, 1, 2]


def test_poll_shards_accepts_bytes_ids(tmp_path):
    rows, last = poll_shards(_broker(tmp_path), "ev", [0, 2], count=10)
    assert [(r["shard_id"], r["payload"]) for r in rows] == [
        (0, b"0-0"), (0, b"0-1"), (0, b"0-2"), (2, b"2-0"), (2, b"2-1"), (2, b"2-2"),
    ]
    assert last == {0: (1002 << 16) | 0, 2: (1002 << 16) | 2}


def test_file_url_resolves_to_a_loadable_source(spark, tmp_path):
    log = tmp_path / "log"
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [("a", 0, 1, ts, b"x"), ("a", 1, 2, ts, b"y"), ("b", 0, 3, ts, None)]
    spark.createDataFrame(rows, MESSAGE_SCHEMA).write.parquet(str(log))

    fmt, opts = reader_config(f"file://{log}/a")
    want = sorted((k, s, q, p) for k, s, q, _, p in rows)

    def got(df):
        return sorted((r.stream_key, r.shard_id, r.sequence, r.payload) for r in df.collect())

    typed = spark.read.format(fmt).schema(MESSAGE_SCHEMA).options(**opts).load()
    assert [(f.name, f.dataType) for f in typed.schema] == [
        (f.name, f.dataType) for f in MESSAGE_SCHEMA
    ]
    assert got(typed) == want
    # the examples/ pattern: format + options, schema read from the log
    inferred = spark.read.format(fmt).options(**opts).load()
    assert inferred.columns == MESSAGE_SCHEMA.fieldNames()
    assert got(inferred) == want
