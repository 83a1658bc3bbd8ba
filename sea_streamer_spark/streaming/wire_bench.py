"""Wire-path streaming benchmark (VERDICT r4 task #4; r3 task #4).

Measures the reference's 100k x 256 B produce/consume workload
(benchmark/README.md:8-25; the ~100k msgs/sec anchor is README.md:266) over
the ACTUAL redis:// transport — RESP2 frames on TCP sockets — instead of
the file backend the headline streaming phases use.

Topology: one RESP2 server process per shard (the loopback stand-in for a
per-shard Redis node — shards are separate keys routed to separate nodes in
cluster mode, SURVEY §2.6), produce and consume driven from SPARK EXECUTOR
tasks, one shard per task:

- produce: ``foreachPartition`` → the production pipeline path
  (:func:`..streaming.redis._flush_xadds`: explicit packed-MessageId entry
  ids, one pipelined send, duplicate-id replay inspection) over a
  :class:`..streaming.resp.RespClient` — exactly what
  ``redis_sink_foreach_batch`` runs per partition in a deployment.
- consume: paged :func:`..streaming.redis.poll_shards` loops per shard —
  the same per-shard XRANGE read (``redis._xrange_shard``) the
  ``sea_redis`` DataSource partitions run.

Honesty note: the broker side is the in-repo pure-Python server
(``resp_server.py``), not a C redis-server — broker CPU is charged to the
measurement. Per-shard server processes keep the broker off a single GIL,
the same scaling a real cluster gets from per-node processes.
"""

from __future__ import annotations

import multiprocessing as mp
import time
from collections import namedtuple

STREAM = "bench"

_EnvRow = namedtuple("_EnvRow", "stream_key shard_id sequence timestamp payload")


def _serve_shard(q) -> None:  # pragma: no cover - runs in a child process
    """One shard's broker: an in-memory RESP2 server; reports (host, port)
    and serves until the parent terminates the process."""
    import threading

    from .fake_redis import FakeRedis
    from .resp_server import RespServer

    srv = RespServer(FakeRedis())
    q.put(srv.serve_background())
    threading.Event().wait()


def start_shard_servers(n_shards: int) -> tuple[list, list[tuple[str, int]]]:
    """Spawn ``n_shards`` broker processes; returns (procs, addresses).
    ``fork`` (not spawn): spawn re-executes the parent ``__main__``, which
    breaks under stdin/REPL/driver harnesses; the forked child touches only
    Python sockets and threads — never the parent's JVM gateway — so fork
    is safe here."""
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = []
    # Clean up our OWN partial spawn on failure (e.g. a q.get timeout after
    # some children already started) so every call site gets full teardown
    # without knowing how far the spawn loop got (r7 ADVICE).
    try:
        for _ in range(n_shards):
            p = ctx.Process(target=_serve_shard, args=(q,), daemon=True)
            p.start()
            procs.append(p)
        addrs = [q.get(timeout=60) for _ in procs]
    except BaseException:
        for p in procs:
            p.terminate()
        raise
    return procs, addrs


def benchmark_wire(
    spark,
    n: int = 100_000,
    n_shards: int = 4,
    payload_size: int = 256,
    page: int = 5_000,
) -> dict:
    """Run the produce->consume wire workload; returns phase seconds plus
    the msgs/sec figure for the slower phase (the honest throughput claim).

    Raises if the consumed row count disagrees with ``n`` — a benchmark
    that silently drops messages measures nothing.
    """
    from datetime import datetime, timezone

    procs, addrs = start_shard_servers(n_shards)
    # Destination brokers for the relay phase (idle in produce/consume):
    # relay A→B across broker processes, the cross-node copy S17 does.
    # Spawned under a guard so a partial failure here still tears down the
    # already-running source brokers (r6 ADVICE).
    try:
        dst_procs, dst_addrs = start_shard_servers(n_shards)
    except BaseException:
        for p in procs:
            p.terminate()
        raise
    procs = procs + dst_procs
    per_shard = n // n_shards
    assert per_shard <= 0xFFFF, "sub-ms seq16 budget: lower n or raise shards"
    base_ms = 1_700_000_000_000
    ts = datetime.fromtimestamp(base_ms / 1000, tz=timezone.utc)
    payload = bytes(payload_size)

    def produce_partition(rows) -> None:
        from .redis import _flush_xadds
        from .resp import RespClient

        env = []
        sid = None
        for r in rows:
            i = int(r.id)
            sid = i * n_shards // n  # range partitions are contiguous
            env.append(_EnvRow(STREAM, sid, i - sid * per_shard, ts, payload))
        if not env:
            return
        client = RespClient(*addrs[sid])
        try:
            _flush_xadds(client, env, None)
        finally:
            client.close()

    def consume_partition(rows):
        from .redis import poll_shards
        from .resp import RespClient

        for r in rows:
            sid = int(r.id)
            client = RespClient(*addrs[sid])
            try:
                got, last = 0, {}
                while True:
                    batch, last = poll_shards(
                        client, STREAM, [sid], last, count=page
                    )
                    if not batch:
                        break
                    got += len(batch)
                yield (sid, got)
            finally:
                client.close()

    def relay_partition(rows):
        # S17 relay on the wire, with the reference's decoupled read/write
        # loops (redis/src/lib.rs:33-49 — "read and write loops are
        # separated from your process loop, so they can all happen in
        # parallel"): a reader thread pages shard N's stream from the
        # SOURCE broker into a bounded queue while the main thread
        # pipelines the previous page into the DESTINATION broker — so
        # consume of page k overlaps produce of page k-1, and the two
        # broker processes burn CPU concurrently instead of taking turns.
        # Separate destination brokers model S17's actual job (copy stream
        # A→B across nodes/backends); with read+write against one broker
        # process the relay floor is the SUM of its serve+ingest CPU, and
        # no client-side trick can beat that.
        for r in rows:
            sid = int(r.id)
            yield (sid, _relay_one_shard(sid))

    def _relay_one_shard(sid):
        # Per-shard state lives in THIS call's frame. The previous shape
        # (a for-loop in relay_partition rebinding pages/stop/err/src each
        # iteration) meant a reader that outlived its 10 s reap window
        # kept closure cells the NEXT shard re-used, so a stale reader
        # could inject batches or a premature None sentinel into the next
        # shard's queue (r7 ADVICE). Own-scope + an is_alive check below
        # make that impossible.
        import queue as _q
        import threading

        from .fake_redis import ResponseError
        from .redis import format_entry_id, next_after, parse_entry_id, shard_key
        from .resp import RespClient

        src = RespClient(*addrs[sid])
        dst = RespClient(*dst_addrs[sid])
        src_key = shard_key(STREAM, sid)
        dst_key = shard_key(STREAM + "2", sid)
        pages: _q.Queue = _q.Queue(maxsize=4)  # 4 pages ≈ 5 MB cap
        err: list[BaseException] = []
        stop = threading.Event()  # writer died: unblock the reader

        def _put(item) -> bool:
            # Bounded put that gives up once the writer has stopped —
            # a plain blocking put would strand the reader forever if
            # the writer raised while the queue was full (r6 ADVICE:
            # one leaked daemon thread per failed task).
            while not stop.is_set():
                try:
                    pages.put(item, timeout=0.1)
                    return True
                except _q.Full:
                    continue
            return False

        def read_loop() -> None:
            # Lean page reader: raw (id_bytes, flat_bytes) entries via the
            # inlined XRANGE parser — no envelope/datetime/str
            # materialization — the relay writes the SAME packed ids to
            # the destination (ids are the receipt identity, D9, so
            # pass-through preserves them exactly).
            try:
                start = "-"
                while not stop.is_set():
                    batch = src.xrange_entries(
                        src_key, min=start, max="+", count=page
                    )
                    if not batch:
                        break
                    if not _put(batch):
                        return
                    start = format_entry_id(
                        next_after(parse_entry_id(batch[-1][0].decode()))
                    )
            except BaseException as e:  # pragma: no cover - surfaced below
                err.append(e)
            finally:
                _put(None)

        reader = threading.Thread(target=read_loop, daemon=True)
        reader.start()
        try:
            moved = 0
            dst_key_b = dst_key.encode()
            while True:
                batch = pages.get()
                if batch is None:
                    break
                pipe = dst.pipeline(transaction=False)
                for entry_id, flat in batch:
                    payload = b""
                    for fi in range(0, len(flat), 2):
                        if flat[fi] == b"payload":
                            payload = flat[fi + 1]
                            break
                    pipe.xadd_raw(dst_key_b, entry_id, payload)
                # same duplicate-id inspection contract as _flush_xadds
                for res in pipe.execute(raise_on_error=False):
                    if isinstance(res, ResponseError):
                        if "equal or smaller" in str(res):
                            continue
                        raise res
                moved += len(batch)
            if err:
                raise err[0]
        finally:
            # Error or success, release and reap the reader BEFORE
            # closing the sockets it may be mid-read on. If the reader
            # failed to stop inside the reap window, ABANDON the sockets
            # (daemon thread; the broker processes die with the bench) —
            # closing them under a live reader trades a leak for a race.
            stop.set()
            reader.join(timeout=10)
            if not reader.is_alive():
                src.close()
                dst.close()
        if reader.is_alive():  # pragma: no cover - wedged-reader guard
            # Surfaced only on the success path (a propagating exception
            # already explains the failure): a wedged reader means the
            # moved count cannot be trusted, so fail loudly instead of
            # letting it surface later as the opaque lost-messages assert.
            raise RuntimeError(
                f"wire relay shard {sid}: reader thread failed to stop"
            )
        return moved

    try:
        produce_df = spark.range(n, numPartitions=n_shards)
        t0 = time.perf_counter()
        produce_df.foreachPartition(produce_partition)
        t_produce = time.perf_counter() - t0

        shard_df = spark.range(n_shards, numPartitions=n_shards)
        t0 = time.perf_counter()
        moved = shard_df.rdd.mapPartitions(relay_partition).collect()
        t_relay = time.perf_counter() - t0
        if sum(m for _sid, m in moved) != n:
            raise AssertionError("wire relay lost messages")

        t0 = time.perf_counter()
        counts = shard_df.rdd.mapPartitions(consume_partition).collect()
        t_consume = time.perf_counter() - t0
        total = sum(c for _sid, c in counts)
        if total != n:
            raise AssertionError(f"wire bench lost messages: {total}/{n}")
    finally:
        for p in procs:
            p.terminate()
        for p in procs:
            p.join(timeout=10)

    # The reference's ~100k msgs/sec anchor (README.md:266) describes
    # produce/consume throughput; relay does BOTH per message, so it gets
    # its own figure rather than diluting the anchor-comparable one.
    worst = max(t_produce, t_consume)
    return {
        "wire_produce_100k": round(t_produce, 4),
        "wire_relay_100k": round(t_relay, 4),
        "wire_consume_100k": round(t_consume, 4),
        "wire_msgs_per_sec": int(n / worst) if worst > 0 else 0,
        "wire_relay_msgs_per_sec": int(n / t_relay) if t_relay > 0 else 0,
        "wire_n": n,
        "wire_shards": n_shards,
    }
