#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload tpch_reports --seed 1 --seconds 10 --trace 0

Workloads: ``tpch_reports`` and ``llm_ops`` (closed loop, one client) and
``tail_fuse`` (open loop, one generator process). See perfbench/README.md.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run plus the
tracing overhead, measured against an untraced run of the same seed that
this command runs first in a child process. Progress notes go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
from common import (  # noqa: E402
    BUILD,
    ROOT,
    TRACE_DIR,
    Py4JCounter,
    Tracer,
    configure_env,
    jvm_peak_rss_mb,
    parse_event_log,
    py_peak_rss_mb,
    start_spark,
    stop_spark,
)

WORKLOADS = ("tpch_reports", "llm_ops", "tail_fuse")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "latency_p99_ms": "ms",
    "ops_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "session.py_peak_rss_mb": "MB",
    "plans.build_ms": "ms",
    "plans.build_share": "ratio",
    "plans.py4j_calls": "count",
    "plans.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.busy_share": "ratio",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "storage.cache_entries_left": "count",
    "storage.persisted_rdds_left": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "sources.offsets_ms": "ms",
    "sources.backlog_start_msgs": "count",
    "sources.backlog_msgs": "count",
    "operators.fuse.state_rows": "count",
    "operators.fuse.state_bytes": "bytes",
    "operators.fuse.state_commit_ms": "ms",
    "operators.fuse.self_ms": "ms",
    "streaming.sink.write_ms": "ms",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    "generator.lag_ms": "ms",
    "host.probe_ms": "ms",
    "host.steal_pct": "%",
    **{f"overhead.{name}": unit for name, unit in END_TO_END.items()},
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def untraced_baseline(args) -> dict[str, float]:
    """End-to-end metrics of a fresh untraced run with the same seed and
    length, run in a child process just before the traced run."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=170, check=True).stdout
    result = json.loads(out.splitlines()[-1])
    return {k: v["value"] for k, v in result["metrics"].items()}


def run(args) -> dict:
    traced = bool(args.trace)
    baseline = untraced_baseline(args) if traced else None
    work = BUILD / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    try:
        return measure(args, work, baseline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: Path, baseline: dict[str, float] | None) -> dict:
    traced = baseline is not None
    gate = work / "data" / "sf0.01"
    datagen.write_tables(str(gate), args.seed, 0.01)
    if args.workload == "tpch_reports":
        from batch import TABLES

        datagen.write_tables(str(work / "data" / "sf0.1"), args.seed, 0.1, TABLES["tpch_reports"])
    event_log = work / "eventlog" if traced else None
    configure_env(work, gate, event_log)
    sys.path.insert(0, str(ROOT))

    t0 = time.perf_counter()
    import sea_streamer_spark.plans.queries  # noqa: F401  (import-time registry build)

    import_s = time.perf_counter() - t0
    import bench  # the repository's host-load probe

    probe_before, stat_before = bench._cpu_probe(), bench._stat_snapshot()
    tracer = Tracer() if traced else None
    py4j = Py4JCounter() if traced else None

    t1 = time.perf_counter()
    spark = start_spark()
    start_s = time.perf_counter() - t1
    layers: dict[str, float] = {}
    problems: list[str] = []
    job = None
    try:
        if args.workload == "tail_fuse":
            from tail import TailRun

            job = TailRun(spark, work, args.seed, tracer, py4j)
            build_s = job.build()
            job.start()
            job.warm_up()
            warmup_s = job.first_durable - t1 - start_s
            log(f"set-up {import_s + start_s + warmup_s:.1f} s; measuring {args.seconds} s")
            job.measure(args.seconds)
            job.stop()
            e2e, attempted, failed, found = job.results()
            problems += found
            if traced:
                layers.update(job.per_layer())
                layers["plans.build_share"] = build_s / (start_s + warmup_s)
        else:
            from batch import WORKLOADS as BATCH, BatchRun

            sf_dir = gate if BATCH[args.workload][0] == 0.01 else work / "data" / "sf0.1"
            job = BatchRun(spark, args.workload, sf_dir, args.seed, tracer, py4j)
            t2 = time.perf_counter()
            problems += job.check_oracles()
            t3 = time.perf_counter()
            job.warm_up()
            warmup_s = time.perf_counter() - t1 - start_s
            log(f"set-up {import_s + start_s + warmup_s:.1f} s (import {import_s:.1f}, session "
                f"{start_s:.1f}, oracle check {t3 - t2:.1f}, warm rounds {time.perf_counter() - t3:.1f}); "
                f"measuring {args.seconds} s")
            job.measure(args.seconds)
            e2e = job.end_to_end()
            log(f"op latency ms by query: {job.per_query_ms()}")
            checked = job.warm_ops + job.ops
            attempted, failed = len(checked), sum(not o["ok"] for o in checked)
            problems += job.failures()
        e2e["setup_s"] = import_s + start_s + warmup_s
        jvm_rss = jvm_peak_rss_mb(spark)
    finally:
        if hasattr(job, "stop"):
            job.stop()
        stop_spark(spark)

    probe_after = bench._cpu_probe()
    steal = bench._steal_pct(stat_before, bench._stat_snapshot())
    host = {"host.probe_ms": max(probe_before, probe_after), "host.steal_pct": steal or 0.0}
    log(f"host probe {probe_before} -> {probe_after} ms, steal {steal}%")
    for p in problems:
        log(f"CHECK: {p}")

    if traced:
        totals, tasks, jobs = parse_event_log(event_log)
        if args.workload == "tail_fuse":
            layers.update(job.exec_layer(tasks, jobs))
        else:
            layers.update(job.per_layer(totals))
        layers.update({
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "session.jvm_peak_rss_mb": jvm_rss,
            "session.py_peak_rss_mb": py_peak_rss_mb(),
            **host,
        })
        layers.update({f"overhead.{k}": e2e[k] - baseline[k] for k in END_TO_END})
        metrics = {name: layers.get(name, 0.0) for name in PER_LAYER}
        units = PER_LAYER
        trace_file = TRACE_DIR / f"{args.workload}-seed{args.seed}.json"
        tracer.write(trace_file, workload=args.workload, seed=args.seed, seconds=args.seconds,
                     end_to_end=e2e, untraced=baseline, metrics=metrics,
                     ops=getattr(job, "ops", None), problems=problems)
        log(f"trace written to {trace_file.relative_to(ROOT)}")
    else:
        log(json.dumps({"host": host, "end_to_end": e2e}))
        metrics, units = {name: e2e[name] for name in END_TO_END}, END_TO_END

    return {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(metrics[name]), "unit": units[name]} for name in metrics},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the measured window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "sea_streamer_spark").is_dir() or not (ROOT / "bench.py").is_file():
        sys.exit(f"perfbench: run from a checkout of the repository; {ROOT} has no library")
    result = run(args)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
