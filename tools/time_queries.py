#!/usr/bin/env python
"""Time individual registered queries with the bench's new_ops protocol
(one warm-up ``.count()`` then median of N runs), bracketed by the
bench's own host-load probe and /proc/stat steal telemetry so every A/B
number carries its measurement context (r12 honesty rule).

Usage: python tools/time_queries.py <query> [query ...] [--runs N]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default nproc).
Prints one line per query: name, median sec, per-run secs, spread pct;
plus a probe/steal bracket before and after the batch.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, _cpu_probe, _stat_snapshot, _steal_pct  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 3
    for a in sys.argv[1:]:
        if a.startswith("--runs"):
            runs = int(a.split("=")[1]) if "=" in a else runs
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))

    from sea_streamer_spark.plans.queries import QUERIES
    from sea_streamer_spark.session import get_spark

    spark = get_spark(app_name="time-queries")
    print(f"# sf_dir={SF_DIR} cpus={os.environ['SPARK_GRAFT_CPUS']}")
    p0, s0 = _cpu_probe(), _stat_snapshot()
    print(f"# probe_start_ms={p0}")
    for name in args:
        fn = QUERIES[name].fn
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        fn(spark, SF_DIR).count()
        times = []
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"run{r}:{name}")
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            times.append(time.perf_counter() - t0)
        med = statistics.median(times)
        spread = 100.0 * (max(times) - min(times)) / med if med else 0.0
        print(
            f"{name}\tmedian={med:.3f}s\truns="
            + ",".join(f"{t:.3f}" for t in times)
            + f"\tspread={spread:.0f}%"
        )
        sys.stdout.flush()
    p1, steal = _cpu_probe(), _steal_pct(s0, _stat_snapshot())
    print(f"# probe_end_ms={p1} steal_pct={steal}")
    spark.stop()


if __name__ == "__main__":
    main()
