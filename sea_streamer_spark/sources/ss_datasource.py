"""`.ss` as a registered Spark Python DataSource: ``format("ss")`` with
beacon-boundary partition splitting.

``read_ss`` (mapInPandas) parallelizes across *files*; this DataSource
parallelizes across *byte ranges of one file*: beacons occur at fixed
interval multiples (format.rs:39-53), each records the in-flight remainder
of any message spanning it, so any beacon index is a clean resume point
(`_skip_past_beacon`) — the same property the reference's Surveyor uses for
seeking is what makes a huge single `.ss` file splittable into independent
tasks. A message belongs to the partition its *start offset* falls in, so
every message is read exactly once.

Each task mmaps the file and parses only its range — the OS pages in just
the touched bytes, so IO stays proportional to the partition, not the file.

Usage::

    from sea_streamer_spark.sources.ss_datasource import SsDataSource
    spark.dataSource.register(SsDataSource)
    df = spark.read.format("ss").option("splits", 16).load("/path/to/file.ss")
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..model import ENVELOPE_DDL
from .ss import HEADER_SIZE, decode_header, iter_messages_range


class SsPartition(InputPartition):
    def __init__(self, path: str, interval: int, beacon_lo: int, beacon_hi: int | None):
        self.path = path
        self.interval = interval
        self.beacon_lo = beacon_lo  # 0 = start of file (after header)
        self.beacon_hi = beacon_hi  # None = to EOF


class SsDataSourceReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ss datasource requires a path")
        self.splits = int(options.get("splits", "8"))
        self.verify_crc = options.get("verify_crc", "true").lower() != "false"
        self._seek_ts_ms: int | None = None
        self._seek_seq: int | None = None

    def pushFilters(self, filters):
        """Surveyor pushdown (S11 at planning time): lower bounds on
        ``sequence``/``timestamp`` prune whole partitions via the beacon
        index. Every filter is returned as unhandled — Spark still applies
        the exact predicate; the pushdown only shrinks the scan (the same
        contract as parquet row-group pruning)."""
        from pyspark.sql.datasource import GreaterThan, GreaterThanOrEqual

        for f in filters:
            if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                col = ".".join(f.attribute)
                if col == "sequence" and isinstance(f.value, int):
                    tgt = f.value + 1 if isinstance(f, GreaterThan) else f.value
                    if self._seek_seq is None or tgt > self._seek_seq:
                        self._seek_seq = tgt
                elif col == "timestamp":
                    try:
                        ms = int(f.value.timestamp() * 1000)
                    except AttributeError:
                        continue
                    tgt = ms if isinstance(f, GreaterThan) else ms - 1
                    if self._seek_ts_ms is None or tgt > self._seek_ts_ms:
                        self._seek_ts_ms = tgt
        return filters

    def _files(self):
        if os.path.isdir(self.path):
            return sorted(_glob.glob(os.path.join(self.path, "*.ss")))
        return sorted(_glob.glob(self.path)) or [self.path]

    def partitions(self):
        parts: list[SsPartition] = []
        for f in self._files():
            size = os.path.getsize(f)
            with open(f, "rb") as fh:
                header = decode_header(fh.read(HEADER_SIZE))
            interval = header.beacon_interval
            n_beacons = max(0, size // interval)
            skip_to = 0
            if self._seek_ts_ms is not None or self._seek_seq is not None:
                import mmap

                from .ss import best_skippable_beacon

                with open(f, "rb") as fh2, mmap.mmap(
                    fh2.fileno(), 0, access=mmap.ACCESS_READ
                ) as data:
                    skip_to = best_skippable_beacon(
                        data, interval, timestamp_ms=self._seek_ts_ms, sequence=self._seek_seq
                    )
            # split the remaining beacon index range into ~equal chunks
            span = n_beacons + 1 - skip_to
            n_splits = min(self.splits, span) or 1
            bounds = [skip_to + round(i * span / n_splits) for i in range(n_splits + 1)]
            for lo, hi in zip(bounds, bounds[1:]):
                if lo == hi:
                    continue
                parts.append(
                    SsPartition(f, interval, lo, hi if hi <= n_beacons else None)
                )
        return parts

    def read(self, part: SsPartition):
        import mmap
        from datetime import datetime, timezone

        from .ss import _skip_past_beacon  # executor-side import

        with open(part.path, "rb") as fh:
            with mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ) as data:
                if part.beacon_lo == 0:
                    start = HEADER_SIZE
                else:
                    start = _skip_past_beacon(data, part.interval, part.beacon_lo)
                end = (
                    len(data)
                    if part.beacon_hi is None
                    else min(len(data), part.beacon_hi * part.interval)
                )
                for m in iter_messages_range(
                    data, part.interval, start, end, verify_crc=self.verify_crc
                ):
                    yield (
                        m.stream_key,
                        m.shard_id,
                        m.sequence,
                        datetime.fromtimestamp(m.timestamp_ms / 1000.0, tz=timezone.utc),
                        m.payload,
                    )


class SsDataSource(DataSource):
    """spark.dataSource.register(SsDataSource) → ``format("ss")``."""

    @classmethod
    def name(cls) -> str:
        return "ss"

    def schema(self) -> str:
        return ENVELOPE_DDL

    def reader(self, schema) -> SsDataSourceReader:
        return SsDataSourceReader(self.options)

    def simpleStreamReader(self, schema) -> "SsSimpleStreamReader":
        return SsSimpleStreamReader(self.options)


# ---------------------------------------------------------------- live tail


class SsSimpleStreamReader(SimpleDataSourceStreamReader):
    """S10 live tail as a streaming Python DataSource (the notify-watcher
    pump re-expressed): each micro-batch parses the complete messages
    appended since the last byte offset; a partially-written message or
    beacon at EOF is retried next poll (append-with-recovery,
    messages.rs:419-515). Offsets are byte positions — exactly the
    checkpointable progress the reference keeps per file."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ss stream requires a path")
        self.verify_crc = options.get("verify_crc", "true").lower() != "false"

    def initialOffset(self) -> dict:
        return {"pos": HEADER_SIZE}

    def _parse(self, start_pos: int, end_pos: int | None):
        import mmap
        from datetime import datetime, timezone

        from .ss import parse_complete

        with open(self.path, "rb") as fh:
            with mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ) as data:
                header = decode_header(data[:HEADER_SIZE])
                msgs, resume = parse_complete(
                    data, header.beacon_interval, start_pos, end_byte=end_pos
                )
        rows = [
            (
                m.stream_key,
                m.shard_id,
                m.sequence,
                datetime.fromtimestamp(m.timestamp_ms / 1000.0, tz=timezone.utc),
                m.payload,
            )
            for m in msgs
        ]
        return rows, resume

    def read(self, start: dict):
        rows, resume = self._parse(start["pos"], None)
        return iter(rows), {"pos": resume}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows, _ = self._parse(start["pos"], end["pos"])
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass
