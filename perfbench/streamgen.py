"""Open-loop message generator for the ``tail_fuse`` workload.

Runs as its own process so that a slow program under test cannot slow it
down. Message ``i`` is due at ``start + i / RATE`` and carries its due time
as its event ``timestamp``. Every ``PERIOD_S`` seconds the generator publishes
one envelope-parquet segment holding the messages that fell due in that
period: it writes a hidden temp file in the stream directory and renames it
into place, so a reader never sees a partial segment.

The seed decides which (stream key, shard) each message belongs to; the
sequence number counts up per (key, shard) from 1 and the payload is a
fixed function of (key, shard, sequence), so a checker can recompute it.
Sequence 0 is left to ``warmup_segment``, which a consumer can be given
before the schedule starts. Rate, period and payload size are fixed below.

    python3 streamgen.py STREAM_DIR LOG --seed 1 --start 1700000000.0
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEYS = ("a", "b")
SHARDS = 4
RATE = 1000  # messages per second
PERIOD_S = 0.7  # seconds per segment
PAYLOAD = 256  # payload bytes
MAX_SECONDS = 170.0  # the schedule's end, should the parent never stop it

SCHEMA = pa.schema([
    ("stream_key", pa.string()),
    ("shard_id", pa.int64()),
    ("sequence", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
    ("payload", pa.binary()),
])


def payload(key: str, shard: int, seq: int) -> bytes:
    return f"{key}/{shard}/{seq}/".encode().ljust(PAYLOAD, b"x")


def warmup_segment(stream_dir: str) -> None:
    """Publish one message per (key, shard) with sequence 0, due now, so the
    consumer's first micro-batch can warm up before the schedule starts."""
    now_us = round(time.time() * 1e6)
    ids = [(k, s) for k in KEYS for s in range(SHARDS)]
    table = pa.table([
        pa.array([k for k, _ in ids], pa.string()),
        pa.array([s for _, s in ids], pa.int64()),
        pa.array([0] * len(ids), pa.int64()),
        pa.array([now_us] * len(ids), pa.timestamp("us", tz="UTC")),
        pa.array([payload(k, s, 0) for k, s in ids], pa.binary()),
    ], schema=SCHEMA)
    tmp = os.path.join(stream_dir, ".warmup.parquet.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(stream_dir, "warmup.parquet"))


class Segments:
    """Builds segment ``k`` of the schedule; segments must be built in order."""

    def __init__(self, seed: int, start: float) -> None:
        self.rng = np.random.default_rng(seed)
        self.start = start
        self.next_seq = {(k, s): 1 for k in KEYS for s in range(SHARDS)}
        self.per_segment = round(RATE * PERIOD_S)

    def build(self, k: int) -> pa.Table:
        n = self.per_segment
        first = k * n
        combo = self.rng.integers(0, len(KEYS) * SHARDS, n)
        keys, shards, seqs, pays = [], [], [], []
        for c in combo.tolist():
            key, shard = KEYS[c // SHARDS], c % SHARDS
            seq = self.next_seq[key, shard]
            self.next_seq[key, shard] = seq + 1
            keys.append(key)
            shards.append(shard)
            seqs.append(seq)
            pays.append(payload(key, shard, seq))
        due_us = np.round((self.start + (first + np.arange(n)) / RATE) * 1e6).astype(np.int64)
        return pa.table([
            pa.array(keys, pa.string()),
            pa.array(shards, pa.int64()),
            pa.array(seqs, pa.int64()),
            pa.array(due_us, pa.timestamp("us", tz="UTC")),
            pa.array(pays, pa.binary()),
        ], schema=SCHEMA)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("stream_dir")
    ap.add_argument("log")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=float, required=True, help="epoch seconds of message 0")
    args = ap.parse_args()

    stopping = []
    signal.signal(signal.SIGTERM, lambda *_: stopping.append(True))
    segs = Segments(args.seed, args.start)
    with open(args.log, "a", buffering=1) as log:
        k = 0
        while not stopping and k * PERIOD_S < MAX_SECONDS:
            table = segs.build(k)
            due = args.start + (k + 1) * PERIOD_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            if stopping:
                break
            tmp = os.path.join(args.stream_dir, f".seg-{k:06d}.parquet.tmp")
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(args.stream_dir, f"seg-{k:06d}.parquet"))
            log.write(json.dumps({"segment": k, "due": due, "written": time.time(),
                                  "rows": table.num_rows}) + "\n")
            k += 1


if __name__ == "__main__":
    main()
