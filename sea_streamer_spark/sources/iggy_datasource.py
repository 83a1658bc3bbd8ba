"""Apache Iggy as a registered Spark DataSource: ``format("sea_iggy")``.

Same architecture as :mod:`.redis_datasource` (the reference's Iggy backend
is structurally its Redis connector with different enums — a polled,
partitioned, offset-sequenced message log, sea-streamer-iggy):

- **offset** = the server's per-partition sequential message offset — the
  checkpointed dict is ``{"offsets": {partition_id: last_consumed}}``;
- **partition** = one Iggy partition per Spark task;
- **read** = a bounded offset-range poll per partition (offsets are
  contiguous, so ``PollingStrategy::Offset(start+1)`` with
  ``count = end - start`` fetches exactly the planned range);
- ``starting_offsets=latest`` starts at each partition's high watermark
  (PollingStrategy::Last/Next family), ``earliest`` at Beginning
  (PollingStrategy::First).

Client dispatch: ``fake_root`` → the file-backed loopback server
(:mod:`..streaming.fake_iggy`) shared by executor processes; a wire client
(iggy-py, not in this container) would slot into :func:`make_iggy_client`
with no other code change.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ..model import ENVELOPE_DDL, client_opts


def make_iggy_client(opts: dict):
    root = opts.get("fake_root")
    if root:
        from ..streaming.fake_iggy import FakeIggy

        return FakeIggy(root=root)
    raise NotImplementedError(
        "sea_iggy needs either the fake_root loopback server or the iggy-py "
        "client (not available in this environment)."
    )


class IggyPartitionRange(InputPartition):
    def __init__(self, stream: str, topic: str, pid: int, start: int, end: int | None, opts: dict):
        self.stream = stream
        self.topic = topic
        self.pid = pid
        self.start = start  # exclusive; -1 = Beginning
        self.end = end  # inclusive; None = to tail (batch mode)
        self.opts = opts


def _read_range(client, part: IggyPartitionRange):
    if part.end is not None:
        count = part.end - part.start
        if count <= 0:
            return
    else:
        count = 1 << 31
    msgs = client.poll_messages(
        part.stream,
        part.topic,
        part.pid,
        strategy="offset",
        value=part.start + 1,
        count=count,
        auto_commit=False,  # Spark's checkpoint owns progress (D2/D4 mapping)
    )
    for off, ts_us, payload in msgs:
        yield (
            part.topic,
            part.pid,
            off,
            datetime.fromtimestamp(ts_us / 1e6, tz=timezone.utc),
            payload,
        )


class SeaIggyStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.topic = options.get("topic") or options.get("stream_key")
        if not self.topic:
            raise ValueError("sea_iggy requires a topic option")
        self.stream = options.get("stream", "sea")
        self.starting = options.get("starting_offsets", "earliest")
        self.opts = client_opts(options)
        self._client = make_iggy_client(self.opts)  # driver-side planning

    def _tail(self, pid: int) -> int:
        return self._client.end_offset(self.stream, self.topic, pid) - 1

    def initialOffset(self) -> dict:
        pids = self._client.partition_ids(self.stream, self.topic)
        if self.starting == "latest":
            return {"offsets": {str(p): self._tail(p) for p in pids}}
        return {"offsets": {str(p): -1 for p in pids}}

    def latestOffset(self) -> dict:
        pids = self._client.partition_ids(self.stream, self.topic)
        return {"offsets": {str(p): self._tail(p) for p in pids}}

    def partitions(self, start: dict, end: dict):
        souts = start.get("offsets", {})
        parts = []
        for pid_str, end_off in end.get("offsets", {}).items():
            start_off = int(souts.get(pid_str, -1))
            if end_off is None or int(end_off) <= start_off:
                continue
            parts.append(
                IggyPartitionRange(
                    self.stream, self.topic, int(pid_str), start_off, int(end_off), self.opts
                )
            )
        return parts

    def read(self, partition: IggyPartitionRange):
        client = make_iggy_client(partition.opts)
        yield from _read_range(client, partition)

    def commit(self, end: dict) -> None:
        pass


class SeaIggyBatchReader(DataSourceReader):
    """Bounded scan: optional min_offset (inclusive) / max_offset (inclusive)
    per partition."""

    def __init__(self, options):
        self.topic = options.get("topic") or options.get("stream_key")
        if not self.topic:
            raise ValueError("sea_iggy requires a topic option")
        self.stream = options.get("stream", "sea")
        self.min_off = int(options.get("min_offset", "0"))
        self.max_off = int(options["max_offset"]) if options.get("max_offset") else None
        self.opts = client_opts(options)

    def partitions(self):
        client = make_iggy_client(self.opts)
        return [
            IggyPartitionRange(
                self.stream, self.topic, pid, self.min_off - 1, self.max_off, self.opts
            )
            for pid in client.partition_ids(self.stream, self.topic)
        ]

    def read(self, partition: IggyPartitionRange):
        client = make_iggy_client(partition.opts)
        yield from _read_range(client, partition)


class SeaIggyDataSource(DataSource):
    """spark.dataSource.register(SeaIggyDataSource) → ``format("sea_iggy")``."""

    @classmethod
    def name(cls) -> str:
        return "sea_iggy"

    def schema(self) -> str:
        return ENVELOPE_DDL

    def reader(self, schema) -> SeaIggyBatchReader:
        return SeaIggyBatchReader(self.options)

    def streamReader(self, schema) -> SeaIggyStreamReader:
        return SeaIggyStreamReader(self.options)
