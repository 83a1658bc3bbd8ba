"""SparkSession factory and runtime configuration.

The engine targets a large multi-executor cluster (the design assumes ~100 TB
inputs); locally it runs on ``local[$SPARK_GRAFT_CPUS]``. Only
*runtime-settable* SQL confs are applied in :func:`prepare` so that it is safe
to call on an externally-created session (the correctness driver owns its own
``SparkSession``).

:func:`get_spark` also starts the Python workers from the library's daemon
(``daemon/sea_streamer_spark_daemon.py``). pyspark's worker calls
``importlib.invalidate_caches()`` before every task, and on CPython 3.11 each
cached ``zipimporter`` then re-reads its whole archive directory (pyspark.zip,
the spark-core jar, the shipped package zip): 0.1-0.5 s of fixed cost per
Python task, the largest one in a ``tail_fuse`` micro-batch. The daemon skips
the re-read for an archive whose mtime and size are unchanged since it was
last read, which holds for all three while a session runs. Daemon confs are
static, so :func:`prepare` on an externally-created session cannot add it.

Local sessions from :func:`get_spark` also give each stateful streaming
query one state store (``spark.sql.streaming.internal.stateStore.partitions``
= 1) instead of one per shuffle partition. Every store costs a Python task and
a state commit in every micro-batch, even when it holds no key, and that fixed
cost dominates an operator with few state keys, such as the fuse's shards
(whose hash puts shards 0 and 1 in one store at 4, 8 and 64 partitions
anyway). An operator with many state keys loses its parallelism instead: all
its groups run in one task, so a query that needs it should be started with
the conf unset. Spark records the count in a query's checkpoint at its first
start, so a restarted query keeps its count. The query's other shuffles,
and batch queries, keep ``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

import atexit
import functools
import os
import tempfile

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to any session the engine uses. Rationale:
#: - AQE: runtime re-planning (partition coalescing, skew-join splitting) is
#:   the main defense against skew at the 100 TB target.
#: - UTC session timezone: parquet test tables carry naive timestamps; pinning
#:   UTC makes Spark(LTZ) agree with DuckDB(naive) byte-for-byte.
#: - Arrow: all pandas_udf / mapInPandas paths use Arrow batches.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MiB scan splits: at 100 TB this yields ~800k tasks, the standard
    # granularity; locally it keeps small files in one task.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # The driver's events table stores TIMESTAMP(NANOS) which parquet-mr
    # cannot map to a Spark type; read as nanos-since-epoch longs and convert
    # explicitly (sources/tables.py) — same truncation DuckDB applies.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Python DataSource filter pushdown (the .ss reader prunes partitions
    # from pushed sequence/timestamp bounds via its beacon index).
    "spark.sql.python.filterPushdown.enabled": "true",
}


_SHIPPED: set[str] = set()
_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def _remove_if_present(path: str) -> None:
    """Remove ``path``; it may already be gone with its temp dir at exit."""
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


@functools.cache
def _package_zip() -> str:
    """Zip the package's sources once per process; the zip is removed at exit."""
    import zipfile

    fd, path = tempfile.mkstemp(prefix="sea_streamer_spark_", suffix=".zip")
    atexit.register(_remove_if_present, path)
    with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, os.path.dirname(_PKG_DIR)))
    return path


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    An externally-created session (e.g. the correctness driver's) may run
    from a cwd where ``sea_streamer_spark`` is not on the workers' path;
    any pickled-by-reference function would then fail to unpickle. Shipping
    a zip of the package via ``addPyFile`` once per session fixes that.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    try:
        spark.sparkContext.addPyFile(_package_zip())
    except Exception:
        pass  # already added or restricted deployment — closures still work
    _SHIPPED.add(app_id)


def prepare(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # conf not settable at runtime in this deployment -> keep going
            pass
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "sea-streamer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession configured for this engine.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 4 for tests; the
    driver uses 32). Shuffle partitions default to 2x cores — AQE coalesces
    down when partitions are small, and at cluster scale the operator layer
    repartitions explicitly where it matters.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
    )
    if master.startswith("local"):
        # The daemon's directory is a driver-side path, so only executors on
        # this host can import it (see the module docstring).
        # One state store per stateful streaming query (module docstring).
        builder = (
            builder.config("spark.python.daemon.module", "sea_streamer_spark_daemon")
            .config("spark.executorEnv.PYTHONPATH", os.path.join(_PKG_DIR, "daemon"))
            .config("spark.sql.streaming.internal.stateStore.partitions", "1")
        )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return prepare(builder.getOrCreate())
