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

from pyspark.sql.datasource import DataSource

from ..model import ENVELOPE_DDL, client_opts
from ..streaming.iggy import _poll_rows
from .offset_log import _LogBatchReader, _LogStreamReader


def make_iggy_client(opts: dict):
    root = opts.get("fake_root")
    if root:
        from ..streaming.fake_iggy import FakeIggy

        return FakeIggy(root=root)
    raise NotImplementedError(
        "sea_iggy needs either the fake_root loopback server or the iggy-py "
        "client (not available in this environment)."
    )


class _IggyPartitions:
    """The Iggy hooks of the offset protocol: one Spark partition per Iggy
    partition, offsets are the server's contiguous message offsets."""

    def _configure(self, options) -> None:
        self.topic = options.get("topic") or options.get("stream_key")
        if not self.topic:
            raise ValueError("sea_iggy requires a topic option")
        self.stream = options.get("stream", "sea")
        self.opts = client_opts(options)

    def _connect(self):
        return make_iggy_client(self.opts)

    def _ids(self, client) -> list[int]:
        return client.partition_ids(self.stream, self.topic)

    def _tail(self, client, pid: int) -> int:
        return client.end_offset(self.stream, self.topic, pid) - 1

    def _rows(self, client, part):
        # offsets are contiguous: Offset(start+1) with count = end - start
        # fetches exactly the planned range
        count = 1 << 31 if part.end is None else part.end - part.start
        if count <= 0:
            return iter(())
        return _poll_rows(
            client,
            self.stream,
            self.topic,
            part.pid,
            strategy="offset",
            value=part.start + 1,
            count=count,
            auto_commit=False,  # Spark's checkpoint owns progress (D2/D4 mapping)
        )


class SeaIggyStreamReader(_IggyPartitions, _LogStreamReader):
    """Micro-batch reader: offsets = ``{"offsets": {partition: offset}}``."""


class SeaIggyBatchReader(_IggyPartitions, _LogBatchReader):
    """Bounded scan: optional min_offset (inclusive) / max_offset (inclusive)
    per partition."""

    lo_option, hi_option = "min_offset", "max_offset"


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
