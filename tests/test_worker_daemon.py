"""The Python worker daemon and the shipped package zip (session.py).

The daemon's guard makes ``zipimporter.invalidate_caches`` skip an archive
whose mtime and size are unchanged, so pyspark's per-task
``importlib.invalidate_caches()`` stops re-reading every archive directory.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

from sea_streamer_spark.daemon import sea_streamer_spark_daemon as daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_module(archive, source: str, mtime: int) -> None:
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("m.py", source)
    os.utime(archive, (mtime, mtime))


def _load_m(importer: zipimport.zipimporter):
    spec = importer.find_spec("m")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "m.zip")
    _write_module(archive, "V = 1\n", 1_700_000_000)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    monkeypatch.setattr(daemon, "_read_stamp", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches)

    importer = zipimport.zipimporter(archive)
    assert _load_m(importer).V == 1
    reads.clear()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [archive]

    _write_module(archive, "V = 2  # v2\n", 1_700_000_100)
    reads.clear()
    importer.invalidate_caches()
    assert reads == [archive]
    assert _load_m(importer).V == 2


def test_python_tasks_run_the_guard(spark):
    import pandas as pd

    def guard_file(_it):
        yield zipimport.zipimporter.invalidate_caches.__code__.co_filename

    def guard_file_pd(it):
        for _ in it:
            yield pd.DataFrame({"f": list(guard_file(None))})

    rdd_files = spark.sparkContext.parallelize(range(2), 2).mapPartitions(guard_file).collect()
    udf_files = [r.f for r in spark.range(2).mapInPandas(guard_file_pd, "f string").collect()]
    assert set(rdd_files + udf_files) == {os.path.abspath(daemon.__file__)}


def test_get_spark_process_leaves_no_package_zip(tmp_path):
    code = "from sea_streamer_spark.session import get_spark; get_spark(master='local[1]')"
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env, check=True, timeout=300)
    assert sorted(p.name for p in tmp_path.glob("*.zip")) == []


def test_package_zip_already_gone_at_exit_is_quiet(tmp_path):
    """The temp dir may be cleaned before the process exits; the zip's
    removal at exit must then pass silently (no JVM is started here)."""
    code = (
        "import os; from sea_streamer_spark import session; "
        "os.remove(session._package_zip())"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    done = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env, check=True, timeout=120,
        capture_output=True, text=True,
    )
    assert done.stderr == ""
