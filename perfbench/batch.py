"""Closed-loop batch workloads: ``tpch_reports`` and ``llm_ops``.

One client runs the workload's five registered queries in rounds; each round
runs all five once in a seed-shuffled order. One op is: build the query
through ``QUERIES[name].fn``, then run one action that hashes every output
column and returns the row count and an order-insensitive checksum.

Set-up checks every query once against its DuckDB oracle and takes the
reference row count and checksum from the checked rows; every timed op must
reproduce them. After each op, outside its timing, the session's leftover SQL
cache entries and persisted or checkpointed RDDs are counted and released, so
no op reads state an earlier one left behind.
"""

from __future__ import annotations

import random
import time
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

from common import (
    job_counts,
    mean,
    nproc,
    percentile,
    release_storage,
    storage_left,
)

WORKLOADS = {
    "tpch_reports": (0.1, (
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_forecast_revenue", "q18_large_orders",
    )),
    "llm_ops": (0.01, (
        "dedup_minhash_lsh", "similarity_ann_lsh_banded", "dedup_ngram_jaccard",
        "similarity_cosine_topk", "text_fingerprint",
    )),
}
TABLES = {
    "tpch_reports": ("region", "nation", "customer", "supplier", "orders", "lineitem"),
    "llm_ops": ("documents", "embeddings"),
}
WARM_ROUNDS = 1
MIN_ROUNDS = 2
HASH_MOD = 2_147_483_647


def row_hash(df):
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(*[df[c] for c in df.columns]), F.lit(HASH_MOD))


def checksum(df):
    from pyspark.sql import functions as F

    return df.agg(F.count(F.lit(1)).alias("n"), F.sum(row_hash(df)).alias("h"))


def _norm(v):
    if isinstance(v, (float, Decimal)):
        return float(f"{float(v):.10g}")
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return v


def _canon(rows) -> list[tuple]:
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


class BatchRun:
    def __init__(self, spark, workload: str, sf_dir: Path, seed: int, tracer=None, py4j=None):
        self.spark, self.workload, self.sf_dir = spark, workload, str(sf_dir)
        self.names = WORKLOADS[workload][1]
        self.tracer, self.py4j = tracer, py4j
        self.rng = random.Random(seed)
        self.reference: dict[str, tuple[int, int] | None] = {}
        self.warm_ops: list[dict] = []
        self.ops: list[dict] = []

    # ------------------------------------------------------------ set-up
    def check_oracles(self) -> list[str]:
        """Run each query once, compare with DuckDB, keep (rows, checksum)."""
        import duckdb

        from sea_streamer_spark.plans.queries import QUERIES

        con = duckdb.connect()
        for table in TABLES[self.workload]:
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{self.sf_dir}/{table}.parquet'")
        problems = []
        for name in self.names:
            df = QUERIES[name].fn(self.spark, self.sf_dir)
            rows = df.withColumn("__h", row_hash(df)).collect()
            got = _canon(tuple(r)[:-1] for r in rows)
            want = _canon(con.sql(QUERIES[name].oracle).fetchall())
            release_storage(self.spark)
            if got != want:
                self.reference[name] = None
                extra = [r for r in got if r not in want][:3]
                missing = [r for r in want if r not in got][:3]
                problems.append(f"{name}: oracle mismatch ({len(got)} vs {len(want)} rows; "
                                f"unexpected {extra}, missing {missing})")
            else:
                self.reference[name] = (len(rows), sum(r[-1] for r in rows) if rows else None)
        con.close()
        return problems

    # --------------------------------------------------------------- ops
    def _op(self, name: str, k: int, traced: bool) -> dict:
        from sea_streamer_spark.plans.queries import QUERIES

        fn = QUERIES[name].fn
        rec = {"op": f"op{k}", "query": name}
        if not traced:
            t0 = time.perf_counter()
            df = fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            row = checksum(df).collect()[0]
            t2 = time.perf_counter()
            rec.update(build_ms=(t1 - t0) * 1e3, action_ms=(t2 - t1) * 1e3)
        else:
            row = self._traced_op(fn, rec)
        rec["latency_ms"] = rec["build_ms"] + rec["action_ms"]
        rec["ok"] = self.reference.get(name) == (row["n"], row["h"])
        if not rec["ok"]:
            rec["error"] = f"got {(row['n'], row['h'])}, expected {self.reference.get(name)}"
        return rec

    def _traced_op(self, fn, rec: dict):
        sc, tr, op = self.spark.sparkContext, self.tracer, rec["op"]
        with tr.span("op", op, query=rec["query"]) as op_span:
            sc.setJobGroup(f"{op}/build", rec["query"])
            with tr.span("build", op, op_span), self.py4j.counting() as calls:
                t0 = time.perf_counter()
                df = fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
            rec["py4j_calls"] = calls.calls
            rec["build_jobs"] = job_counts(self.spark, f"{op}/build")[0]
            sc.setJobGroup(f"{op}/action", rec["query"])
            with tr.span("plan", op, op_span):
                cdf = checksum(df)
                qe = cdf._jdf.queryExecution()
                qe.executedPlan()
                t2 = time.perf_counter()
            with tr.span("action", op, op_span):
                row = cdf.collect()[0]
                t3 = time.perf_counter()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            found = phases.get(phase)
            rec[f"{phase}_ms"] = found.get().durationMs() if found.isDefined() else 0
        rec["jobs"], rec["stages"], rec["tasks"] = job_counts(self.spark, f"{op}/action")
        rec.update(build_ms=(t1 - t0) * 1e3, action_ms=(t3 - t1) * 1e3, plan_ms=(t2 - t1) * 1e3)
        sc.setJobGroup("perfbench", "between ops")
        return row

    def _round(self, ops: list[dict], traced: bool) -> None:
        order = list(self.names)
        self.rng.shuffle(order)
        for name in order:
            k = len(self.warm_ops) + len(self.ops)
            try:
                rec = self._op(name, k, traced)
            except Exception as e:  # a failed op is counted, not fatal
                rec = {"op": f"op{k}", "query": name, "ok": False, "error": repr(e)[:500]}
            rec["cache_entries_left"], rec["persisted_rdds_left"] = storage_left(self.spark)
            release_storage(self.spark)
            ops.append(rec)

    def warm_up(self) -> None:
        """Untimed rounds after the oracle check: the JIT keeps speeding
        these plans up over their first few runs."""
        for _ in range(WARM_ROUNDS):
            self._round(self.warm_ops, traced=False)

    def measure(self, seconds: float) -> None:
        """Whole rounds until ``seconds`` have passed, and at least MIN_ROUNDS."""
        start = time.perf_counter()
        rounds = 0
        while rounds < MIN_ROUNDS or time.perf_counter() - start < seconds:
            self._round(self.ops, traced=self.tracer is not None)
            rounds += 1

    # ----------------------------------------------------------- results
    def end_to_end(self) -> dict[str, float]:
        done = [o for o in self.ops if "latency_ms" in o]
        lat = [o["latency_ms"] for o in done]
        ok = sum(o["ok"] for o in self.ops)
        busy_s = sum(lat) / 1e3
        return {
            "latency_p50_ms": percentile(lat, 50),
            "latency_p90_ms": percentile(lat, 90),
            "latency_p99_ms": percentile(lat, 99),
            "ops_per_s": ok / busy_s if busy_s else 0.0,
        }

    def per_query_ms(self) -> dict[str, list[int]]:
        out: dict[str, list[int]] = {}
        for o in self.ops:
            if "latency_ms" in o:
                out.setdefault(o["query"], []).append(round(o["latency_ms"]))
        return out

    def failures(self) -> list[str]:
        return [f"{o['op']} {o['query']}: {o['error']}" for o in self.warm_ops + self.ops if not o["ok"]]

    def per_layer(self, exec_totals: dict[str, dict]) -> dict[str, float]:
        ops = [o for o in self.ops if "latency_ms" in o]

        def avg(key):
            return mean([o.get(key, 0) for o in ops])

        out = {
            "plans.build_ms": avg("build_ms"),
            "plans.build_share": sum(o["build_ms"] for o in ops) / max(1e-9, sum(o["latency_ms"] for o in ops)),
            "plans.py4j_calls": avg("py4j_calls"),
            "plans.build_jobs": avg("build_jobs"),
            "catalyst.analysis_ms": avg("analysis_ms"),
            "catalyst.optimization_ms": avg("optimization_ms"),
            "catalyst.planning_ms": avg("planning_ms"),
            "exec.action_ms": avg("action_ms"),
            "exec.jobs": avg("jobs"),
            "exec.stages": avg("stages"),
            "exec.tasks": avg("tasks"),
            "storage.cache_entries_left": mean([o["cache_entries_left"] for o in self.ops]),
            "storage.persisted_rdds_left": mean([o["persisted_rdds_left"] for o in self.ops]),
        }
        per_op = [exec_totals.get(f"{o['op']}/action", {}) for o in ops]
        for field in ("task_run_ms", "task_cpu_ms", "input_bytes", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes"):
            out[f"exec.{field}"] = mean([t.get(field, 0.0) for t in per_op])
        action_ms = sum(o["action_ms"] for o in ops)
        out["exec.busy_share"] = (sum(t.get("task_run_ms", 0.0) for t in per_op)
                                  / max(1e-9, action_ms * nproc()))
        return out
