"""Shared plumbing: run directories, Spark start/stop, statistics and tracing.

Everything a run writes goes under ``.bench_build/perfbench`` in the checkout:
inputs, Spark scratch space, checkpoints, the event log and the trace file.
"""

from __future__ import annotations

import json
import os
import shlex
import sys
import tempfile
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
TRACE_DIR = BUILD / "traces"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def percentile(values: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if values else 0.0


def median(values: list[float]) -> float:
    return percentile(values, 50)


def mean(values: list[float]) -> float:
    return float(np.mean(values)) if values else 0.0


def configure_env(work: Path, gate_dir: Path, event_log: Path | None) -> None:
    """Point every scratch path of Spark and the library into ``work``.

    Must run before pyspark launches its JVM: the confs travel through
    ``PYSPARK_SUBMIT_ARGS`` because the library's session factory takes no
    extra confs."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # The library trains its import-time oracles on this directory's tables.
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = str(gate_dir)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"  # pandas notes from Arrow workers
    # HotSpot keeps its perf-data file in /tmp whatever java.io.tmpdir says.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def start_spark():
    from sea_streamer_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{nproc()}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (AttributeError, OSError):
        pass
    return 0.0


def py_peak_rss_mb() -> float:
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def storage_left(spark) -> tuple[int, int]:
    """(SQL cache entries, persisted or checkpointed RDDs) held by the session."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return int(field.get(cm).size()), int(spark.sparkContext._jsc.getPersistentRDDs().size())


def release_storage(spark) -> None:
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


class Tracer:
    """Spans kept in memory and written out once at the end of a run.

    A span is ``{id, trace, name, parent, start, end}`` with epoch-second
    times; every span of one op (or one micro-batch) shares ``trace``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, trace: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "trace": trace, "name": name, "parent": parent,
                           "start": start, "end": end, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, trace: str, parent: int | None = None, **attrs):
        sid = self.add(name, trace, time.time(), 0.0, parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def write(self, path: Path, **extra) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, **extra}, indent=1, default=str))


class Py4JCounter:
    """Counts py4j commands one thread sends to the JVM while ``counting``.

    Wraps ``send_command`` of both py4j connection classes. Object-release
    commands are skipped: they are sent when Python garbage-collects a
    proxy, so their number depends on collector timing, not on the build."""

    def __init__(self) -> None:
        self.calls = 0
        self._thread: int | None = None
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection
        from py4j.protocol import MEMORY_COMMAND_NAME

        for cls in (ClientServerConnection, GatewayConnection):
            original = cls.send_command

            def send_command(conn, command, _original=original):
                if self._thread == threading.get_ident() and not command.startswith(MEMORY_COMMAND_NAME):
                    self.calls += 1
                return _original(conn, command)

            cls.send_command = send_command

    @contextmanager
    def counting(self):
        self.calls = 0
        self._thread = threading.get_ident()
        try:
            yield self
        finally:
            self._thread = None


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the status tracker holds for a job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return len(jobs), stages, tasks


EXEC_FIELDS = ("task_run_ms", "task_cpu_ms", "input_bytes", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes", "tasks")


def parse_event_log(log_dir: Path) -> tuple[dict[str, dict], list[dict], list[dict]]:
    """Executor totals per job group, one record per finished task and one
    per started job, from the JSON-lines event log Spark wrote for this run."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = defaultdict(lambda: dict.fromkeys(EXEC_FIELDS, 0.0))
    tasks: list[dict] = []
    jobs: list[dict] = []
    for path in sorted(log_dir.iterdir()):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    jobs.append({"group": group, "time_ms": ev.get("Submission Time", 0),
                                 "stages": len(ev.get("Stage IDs", []))})
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec = {
                        "task_run_ms": m.get("Executor Run Time", 0),
                        "task_cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "tasks": 1,
                    }
                    info = ev.get("Task Info") or {}
                    group = stage_group.get(ev.get("Stage ID"), "")
                    tasks.append({**rec, "group": group, "launch_ms": info.get("Launch Time", 0),
                                  "finish_ms": info.get("Finish Time", 0)})
                    for k, v in rec.items():
                        totals[group][k] += v
    return dict(totals), tasks, jobs
