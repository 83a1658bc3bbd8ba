"""The offset protocol the ``sea_redis`` and ``sea_iggy`` DataSources share.

Both backends are partitioned, offset-sequenced logs (a Redis shard key, an
Iggy partition), so their Spark readers are one protocol:

- **offset** = ``{"offsets": {id: last}}``, the last packed MessageId /
  server offset consumed per shard or partition (``-1`` = Beginning) —
  checkpointed by Spark, which is the reference's Resumable mode (D2) with
  range commits instead of per-message acks (D4 mapping, SURVEY §2.5);
- **partition** = one ``(start, end]`` range of one shard per Spark task;
- ``starting_offsets=latest`` starts each shard at its tail (D1 RealTime),
  ``earliest`` at Beginning.

A backend mixes in ``_configure(options)`` (reads its option names, sets
``self.opts``), ``_connect()`` (its client, on the driver or an executor)
and the three protocol hooks: ``_ids(client)`` (shard listing),
``_tail(client, id)`` (last offset, ``-1`` when empty) and
``_rows(client, part)`` (the range read, as envelope tuples).
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSourceReader, DataSourceStreamReader, InputPartition


class _LogRange(InputPartition):
    """One task's read: shard/partition ``pid``, offsets ``(start, end]``."""

    def __init__(self, pid: int, start: int, end: int | None):
        self.pid = pid
        self.start = start  # exclusive; -1 = Beginning
        self.end = end  # inclusive; None = to tail (batch mode)


class _LogStreamReader(DataSourceStreamReader):
    """Micro-batch reader: offsets = ``{"offsets": {id: last}}``."""

    def __init__(self, options):
        self._configure(options)
        self.starting = options.get("starting_offsets", "earliest")
        self._client = self._connect()  # driver-side, planning only

    def _offsets(self, at_tail: bool) -> dict:
        ids = self._ids(self._client)
        return {"offsets": {str(i): self._tail(self._client, i) if at_tail else -1 for i in ids}}

    def initialOffset(self) -> dict:
        return self._offsets(self.starting == "latest")

    def latestOffset(self) -> dict:
        # a listing at every poll: shards appearing mid-stream are picked up
        # and read from Beginning
        return self._offsets(True)

    def partitions(self, start: dict, end: dict):
        souts = start.get("offsets", {})
        parts = []
        for pid, last in end.get("offsets", {}).items():
            first = int(souts.get(pid, -1))
            if last is not None and int(last) > first:  # else nothing new
                parts.append(_LogRange(int(pid), first, int(last)))
        return parts

    def read(self, partition: _LogRange):
        yield from self._rows(self._connect(), partition)  # per-task client

    def commit(self, end: dict) -> None:
        # Progress is owned by Spark's checkpoint (D2); nothing to ack (D4).
        pass


class _LogBatchReader(DataSourceReader):
    """Bounded scan: one task per shard, optional inclusive ``lo_option`` /
    ``hi_option`` offset bounds pushed into each range read."""

    def __init__(self, options):
        self._configure(options)
        lo = options.get(self.lo_option)
        # the range read's start is exclusive, so step one back
        self.start = int(lo) - 1 if lo and int(lo) >= 0 else -1
        hi = options.get(self.hi_option)
        self.end = int(hi) if hi else None

    def partitions(self):
        return [_LogRange(i, self.start, self.end) for i in self._ids(self._connect())]

    def read(self, partition: _LogRange):
        yield from self._rows(self._connect(), partition)
