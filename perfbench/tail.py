"""Open-loop streaming workload ``tail_fuse``.

A generator process (``streamgen.py``) publishes 1,000 msgs/s of 256-byte
payloads over 2 keys x 4 shards as one envelope-parquet segment every 0.7 s.
The program tails that directory and fuses it exactly once:

    create_consumer("file://<dir>/a,b")
      -> stream_join_stateful(align=["a", "b"])
      -> idempotent_foreach_batch(partitioned_parquet_sink(...))

with a 3.5 s processing-time trigger. A message's latency is the time the
ledger marker of the micro-batch that emitted it was written, minus the
message's due time. The sink call is wrapped so its time can be measured and
the emitted ``emit_index`` values recorded for the output checks.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import nullcontext
from datetime import datetime
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from common import job_counts, median, nproc, percentile, storage_left
from streamgen import KEYS, PERIOD_S, RATE, SHARDS, payload, warmup_segment

TRIGGER_S = 3.5  # five segment periods: every batch reads the same five-segment phase
GEN_OFFSET_S = 0.35  # segments land half a period after a trigger tick
WARMUP_S = 2 * TRIGGER_S  # after the generator starts
CAUGHT_UP_ROWS = round(RATE * TRIGGER_S)  # a batch reading at most one trigger's arrivals
DRAIN_TIMEOUT_S = 30.0


def _read_ids(path) -> list[tuple[str, int, int, int]]:
    """(stream_key, shard_id, sequence, timestamp in epoch micros) per row."""
    t = pq.read_table(path, columns=["stream_key", "shard_id", "sequence", "timestamp"])
    ts = t.column("timestamp").cast(pa.int64()).to_pylist()
    return list(zip(t.column("stream_key").to_pylist(), t.column("shard_id").to_pylist(),
                    t.column("sequence").to_pylist(), ts))


class TailRun:
    def __init__(self, spark, work: Path, seed: int, tracer=None, py4j=None):
        self.spark, self.seed, self.tracer, self.py4j = spark, seed, tracer, py4j
        self.stream_dir = work / "stream"
        self.out_dir = work / "sink"
        self.ledger = work / "ledger"
        self.ckpt = work / "checkpoint"
        self.gen_log = work / "generator.jsonl"
        self.stream_dir.mkdir(parents=True)
        self.batches: dict[int, dict] = {}  # batch id -> sink timing + emitted rows
        self.gen = self.query = None
        self.layers: dict[str, float] = {}
        self.notes: list[str] = []

    # ------------------------------------------------------------ pipeline
    def _on_batch(self, guard, sink):
        """The foreachBatch function: the library's ledger-guarded sink with
        the sink call timed, then a capture of the rows the batch emitted.
        The capture runs after the ledger marker is written, so message
        latency excludes it; the batch is persisted so that the capture does
        not run the stateful fuse a second time."""

        def timed_sink(batch, batch_id: int) -> None:
            t0 = time.time()
            sink(batch, batch_id)
            self.batches[batch_id] = {"sink_start": t0, "sink_end": time.time()}

        guarded = guard(timed_sink, str(self.ledger))

        def on_batch(batch, batch_id: int) -> None:
            from pyspark.sql import functions as F

            if self.tracer is not None:
                self.spark.sparkContext.setJobGroup(f"batch{batch_id}/sink", "sink")
            batch.persist()
            guarded(batch, batch_id)
            emitted = batch.select(
                "stream_key", "shard_id", "sequence",
                F.unix_micros("timestamp").alias("ts_us"), "emit_index",
            ).toArrow()
            batch.unpersist()
            if batch_id in self.batches:
                self.batches[batch_id].update(capture_end=time.time(), rows=emitted.to_pylist())

        return on_batch

    def build(self) -> float:
        """Build and configure the streaming query; returns build seconds."""
        from sea_streamer_spark.operators.fuse import stream_join_stateful
        from sea_streamer_spark.streaming.consumer import create_consumer
        from sea_streamer_spark.streaming.sink import (
            idempotent_foreach_batch,
            partitioned_parquet_sink,
        )

        self.spark.sparkContext.setJobGroup("tail/build", "build")
        with self.py4j.counting() if self.py4j is not None else nullcontext() as calls:
            t0 = time.perf_counter()
            consumer = create_consumer(self.spark, f"file://{self.stream_dir}/a,b")
            fused = stream_join_stateful(consumer.dataframe(), align=list(KEYS))
            sink = partitioned_parquet_sink(str(self.out_dir))
            self.writer = (
                fused.writeStream.foreachBatch(self._on_batch(idempotent_foreach_batch, sink))
                .option("checkpointLocation", str(self.ckpt))
                .trigger(processingTime=f"{round(TRIGGER_S * 1000)} milliseconds")
            )
            build_s = time.perf_counter() - t0
        if calls is not None:
            self.layers["plans.py4j_calls"] = calls.calls
        self.layers["plans.build_jobs"] = job_counts(self.spark, "tail/build")[0]
        self.layers["plans.build_ms"] = build_s * 1e3
        return build_s

    def start(self) -> None:
        """Publish the warm-up segment and start the query; the generator
        starts once the query has made its first batch durable."""
        warmup_segment(str(self.stream_dir))
        self.t_start = time.perf_counter()
        self.query = self.writer.start()

    def _start_generator(self) -> None:
        # Spark fires processing-time triggers on epoch multiples of the
        # interval; starting the schedule at a fixed offset from one gives
        # every run the same arrival phase.
        self.gen_start = math.ceil((time.time() + 0.5) / TRIGGER_S) * TRIGGER_S + GEN_OFFSET_S
        self.gen = subprocess.Popen([
            sys.executable, str(Path(__file__).with_name("streamgen.py")),
            str(self.stream_dir), str(self.gen_log), "--seed", str(self.seed),
            "--start", repr(self.gen_start),
        ])

    def stop(self) -> None:
        """Stop the generator, let a running micro-batch finish, stop the query."""
        if self.gen is not None and self.gen.poll() is None:
            self.gen.terminate()
            try:
                self.gen.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.gen.kill()
                self.gen.wait()
        if self.query is not None and self.query.isActive:
            deadline = time.time() + 10
            while self.query.status["isTriggerActive"] and time.time() < deadline:
                time.sleep(0.05)
            self.query.stop()

    # ------------------------------------------------------------ progress
    def _markers(self) -> dict[int, float]:
        out = {}
        if self.ledger.exists():
            for name in os.listdir(self.ledger):
                if name.startswith("batch-") and name.endswith(".done"):
                    out[int(name[6:-5])] = os.stat(self.ledger / name).st_mtime_ns / 1e9
        return out

    def _backlog(self) -> int:
        published = sum(1 for n in os.listdir(self.stream_dir) if n.startswith("seg-"))
        consumed = sum(p["numInputRows"] for p in self.query.recentProgress)
        return published * round(RATE * PERIOD_S) - consumed

    def _wait(self, cond, timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self.query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {self.query.exception()}")
            if cond():
                return True
            time.sleep(0.1)
        return cond()

    def warm_up(self) -> None:
        """Wait for the warm-up segment to become durable (the end of set-up),
        start the generator, run a fixed warm-up, then wait until the
        start-up backlog has drained: no more than one trigger interval's
        arrivals are unread and the latest batch read no more than that."""
        if not self._wait(lambda: bool(self._markers()), 120):
            raise RuntimeError("no micro-batch became durable within 120 s")
        self.first_durable = time.perf_counter()
        self._start_generator()
        time.sleep(max(0.0, self.gen_start + WARMUP_S - time.time()))

        def caught_up():
            done = [p for p in self.query.recentProgress if p["numInputRows"] > 0]
            return (len(done) >= 3 and done[-1]["numInputRows"] <= CAUGHT_UP_ROWS
                    and self._backlog() <= CAUGHT_UP_ROWS)

        if not self._wait(caught_up, 20):
            self.notes.append(f"start-up backlog not drained: {self._backlog()} msgs")
        print(f"[perfbench] first durable {self.first_durable - self.t_start:.1f} s after query start, "
              f"window opens {time.perf_counter() - self.t_start:.1f} s after", file=sys.stderr)

    def measure(self, seconds: float) -> None:
        self.backlog_start = self._backlog()
        self.window = (time.time(), time.time() + seconds)
        time.sleep(seconds)
        self.window = (self.window[0], time.time())
        self.backlog_end = self._backlog()
        self._catalyst()
        end = self.window[1]

        def drained():
            done = set(self._markers())
            top = defaultdict(int)
            for b in done & set(self.batches):
                for r in self.batches[b].get("rows", ()):
                    top[r["shard_id"]] = max(top[r["shard_id"]], r["ts_us"])
            return len(top) == SHARDS and min(top.values()) >= end * 1e6

        if not self._wait(drained, DRAIN_TIMEOUT_S):
            self.notes.append("window messages not all durable before the drain timeout")

    def _catalyst(self) -> None:
        if self.tracer is None:
            return
        phases = self.query._jsq.streamingQuery().lastExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            found = phases.get(phase)
            self.layers[f"catalyst.{phase}_ms"] = found.get().durationMs() if found.isDefined() else 0

    # -------------------------------------------------------------- checks
    def _batch_inputs(self) -> dict[int, list[str]]:
        """Files each committed micro-batch read, from the query checkpoint."""
        src_files: dict[int, set[str]] = defaultdict(set)
        src_dir = self.ckpt / "sources" / "0"
        for f in src_dir.iterdir():
            if f.name.startswith("."):
                continue
            for line in f.read_text().splitlines()[1:]:
                e = json.loads(line)
                src_files[e["batchId"]].add(e["path"])
        ends = {}
        for f in (self.ckpt / "offsets").iterdir():
            if f.name.isdigit():
                ends[int(f.name)] = json.loads(f.read_text().splitlines()[2])["logOffset"]
        out, prev = {}, -1
        for b in sorted(ends):
            out[b] = sorted(p for s in range(prev + 1, ends[b] + 1) for p in src_files.get(s, ()))
            prev = ends[b]
        return out

    def check(self) -> tuple[set, list[str]]:
        """Return (bad message ids, problems) over everything the run emitted.

        Checks: every batch wrote exactly the rows it emitted, with the
        generator's payloads; no message twice; per shard ``emit_index``
        runs 1, 2, 3, ... and follows the merge order (timestamp,
        stream_key, sequence); and each batch emits exactly the buffered
        messages at or before the align gate, i.e. the smaller of the two
        keys' largest timestamps read so far in that shard."""
        bad, problems = set(), []
        markers = self._markers()
        committed = sorted(b for b in markers if b in self.batches)
        inputs = self._batch_inputs()
        sink = {}
        for b in committed:
            t = pq.read_table(self.out_dir / f"batch_id={b}").to_pylist()
            sink[b] = {(r["stream_key"], r["shard_id"], r["sequence"]): r["payload"] for r in t}
        seen = set()
        next_index = defaultdict(lambda: 1)
        last_order = {}
        max_ts = defaultdict(dict)  # shard -> key -> largest timestamp read
        pending = defaultdict(set)  # shard -> ids read but not yet released
        for b in committed:
            for path in inputs.get(b, ()):
                for k, s, seq, ts in _read_ids(path.removeprefix("file://")):
                    max_ts[s][k] = max(max_ts[s].get(k, ts), ts)
                    pending[s].add((k, s, seq, ts))
            rows = self.batches[b]["rows"]
            emitted = {(r["stream_key"], r["shard_id"], r["sequence"]) for r in rows}
            if set(sink[b]) != emitted:
                diff = set(sink[b]) ^ emitted
                bad |= diff
                problems.append(f"batch {b}: sink rows differ from emitted rows for {len(diff)} ids")
            for mid, pay in sink[b].items():
                if pay != payload(*mid):
                    bad.add(mid)
                    problems.append(f"batch {b}: wrong payload for {mid}")
            by_shard = defaultdict(list)
            for r in rows:
                by_shard[r["shard_id"]].append(r)
            for s in range(SHARDS):
                got = sorted(by_shard.get(s, []), key=lambda r: r["emit_index"])
                for r in got:
                    mid = (r["stream_key"], s, r["sequence"])
                    order = (r["ts_us"], r["stream_key"], r["sequence"])
                    if mid in seen:
                        bad.add(mid)
                        problems.append(f"batch {b}: {mid} emitted twice")
                    seen.add(mid)
                    if r["emit_index"] != next_index[s]:
                        bad.add(mid)
                        problems.append(f"batch {b}: shard {s} emit_index {r['emit_index']}, "
                                        f"expected {next_index[s]}")
                    next_index[s] = r["emit_index"] + 1
                    if s in last_order and order <= last_order[s]:
                        bad.add(mid)
                        problems.append(f"batch {b}: shard {s} merge order broken at {mid}")
                    last_order[s] = order
                gate = min(max_ts[s].values()) if len(max_ts[s]) == len(KEYS) else None
                due = {m for m in pending[s] if gate is not None and m[3] <= gate}
                pending[s] -= due
                want = {m[:3] for m in due}
                have = {(r["stream_key"], s, r["sequence"]) for r in got}
                if want != have:
                    diff = want ^ have
                    bad |= diff
                    problems.append(f"batch {b}: shard {s} align gate released "
                                    f"{len(have - want)} early, held {len(want - have)} back")
        return bad, problems

    # ------------------------------------------------------------- results
    def results(self) -> tuple[dict, int, int, list[str]]:
        """(end-to-end metrics, attempted, failed, problems)."""
        bad, problems = self.check()
        markers = self._markers()
        ws, we = self.window
        lat, window_ids = [], set()
        for b, rec in self.batches.items():
            if b not in markers:
                continue
            for r in rec["rows"]:
                due = r["ts_us"] / 1e6
                if ws <= due < we:
                    lat.append((markers[b] - due) * 1e3)
                    window_ids.add((r["stream_key"], r["shard_id"], r["sequence"]))
        expected = self._generated_in(ws, we)
        missing = expected - window_ids
        if missing:
            problems.append(f"{len(missing)} window messages never became durable")
        in_window = sorted((t, b) for b, t in markers.items() if ws <= t <= we and b in self.batches)
        rate = 0.0
        if len(in_window) >= 2:
            rows = sum(len(self.batches[b]["rows"]) for _, b in in_window[1:])
            rate = rows / (in_window[-1][0] - in_window[0][0])
        e2e = {
            "latency_p50_ms": percentile(lat, 50),
            "latency_p90_ms": percentile(lat, 90),
            "latency_p99_ms": percentile(lat, 99),
            "ops_per_s": rate,
        }
        self.window_batches = [b for _, b in in_window]
        durations = {p["batchId"]: p["durationMs"]["triggerExecution"] for p in self.query.recentProgress}
        print("[perfbench] window batch trigger ms:", [durations.get(b) for b in self.window_batches],
              "sink ms:", [round((self.batches[b]["sink_end"] - self.batches[b]["sink_start"]) * 1e3)
                           for b in self.window_batches], file=sys.stderr)
        failed = len(missing) + len(bad & expected)
        return e2e, len(expected), failed, problems + self.notes

    def _generated_in(self, ws: float, we: float) -> set:
        ids = set()
        for name in sorted(os.listdir(self.stream_dir)):
            if name.startswith("seg-"):
                ids.update(m[:3] for m in _read_ids(self.stream_dir / name) if ws * 1e6 <= m[3] < we * 1e6)
        return ids

    def per_layer(self) -> dict[str, float]:
        """Per-micro-batch medians over the batches committed in the window."""
        wanted = set(self.window_batches)
        prog = [p for p in self.query.recentProgress if p["batchId"] in wanted]
        d = [p["durationMs"] for p in prog]
        state = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
        sink_ms = {b: (self.batches[b]["sink_end"] - self.batches[b]["sink_start"]) * 1e3 for b in wanted}
        n = max(1, len(wanted))
        gen = [json.loads(line) for line in self.gen_log.read_text().splitlines()]
        markers = self._markers()
        for p in self.query.recentProgress:
            b = p["batchId"]
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            batch = self.tracer.add("batch", f"batch{b}", start, start + p["durationMs"]["triggerExecution"] / 1e3,
                                    rows=p["numInputRows"], in_window=b in wanted)
            if b in self.batches:
                rec = self.batches[b]
                self.tracer.add("sink", f"batch{b}", rec["sink_start"], rec["sink_end"], batch)
                self.tracer.add("capture", f"batch{b}", rec["sink_end"], rec["capture_end"], batch)
            if b in markers:
                self.tracer.add("durable", f"batch{b}", markers[b], markers[b], batch)
        out = {
            "streaming.trigger_ms": median([x.get("triggerExecution", 0) for x in d]),
            "streaming.add_batch_ms": median([x.get("addBatch", 0) for x in d]),
            "streaming.planning_ms": median([x.get("queryPlanning", 0) for x in d]),
            "streaming.commit_ms": median([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]),
            "sources.offsets_ms": median([x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d]),
            "sources.backlog_start_msgs": self.backlog_start,
            "sources.backlog_msgs": self.backlog_end,
            "operators.fuse.state_rows": median([s.get("numRowsTotal", 0) for s in state]),
            "operators.fuse.state_bytes": median([s.get("memoryUsedBytes", 0) for s in state]),
            "operators.fuse.state_commit_ms": median([s.get("commitTimeMs", 0) for s in state]),
            "operators.fuse.self_ms": median([s.get("allUpdatesTimeMs", 0) + s.get("allRemovalsTimeMs", 0)
                                              + s.get("commitTimeMs", 0) for s in state]),
            "streaming.sink.write_ms": median(list(sink_ms.values())),
            "streaming.batches": len(wanted),
            "streaming.rows_per_batch": sum(p["numInputRows"] for p in prog) / n,
            "generator.lag_ms": percentile([(g["written"] - g["due"]) * 1e3 for g in gen], 99),
            "exec.action_ms": median([x.get("addBatch", 0) for x in d]),
        }
        out["storage.cache_entries_left"], out["storage.persisted_rdds_left"] = storage_left(self.spark)
        return {**self.layers, **out}

    def exec_layer(self, tasks: list[dict], jobs: list[dict]) -> dict[str, float]:
        """Executor totals per window micro-batch, from the event log."""
        ws, we = (t * 1e3 for t in self.window)
        n = max(1, len(self.window_batches))
        win_tasks = [t for t in tasks if ws <= t["finish_ms"] <= we]
        win_jobs = [j for j in jobs if ws <= j["time_ms"] <= we]
        out = {
            "exec.jobs": len(win_jobs) / n,
            "exec.stages": sum(j["stages"] for j in win_jobs) / n,
            "exec.tasks": len(win_tasks) / n,
        }
        for field in ("task_run_ms", "task_cpu_ms", "input_bytes", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes"):
            out[f"exec.{field}"] = sum(t[field] for t in win_tasks) / n
        window_s = (we - ws) / 1e3
        out["exec.busy_share"] = sum(t["task_run_ms"] for t in win_tasks) / 1e3 / max(1e-9, window_s * nproc())
        return out
