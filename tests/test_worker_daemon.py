"""The Python worker daemon of get_spark sessions (hdk_spark.daemon):
a task no longer re-reads every zip directory on the worker path, a
rewritten archive still is, and the daemon starts from any cwd."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_invalidate_caches_is_cheap(spark):
    """Spark's worker calls importlib.invalidate_caches() on every task.
    With the Spark jar's 5,359-entry zip directory re-read each time it
    took 147 ms on a 4-core VM (CPython 3.11); under the daemon an
    unchanged archive keeps its cached directory.
    The probes are nested so that they pickle by value."""

    def _invalidate_ms(_):
        import importlib
        import time

        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            best = min(best, time.perf_counter() - t0)
        yield best * 1000

    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == "hdk_spark.daemon"
    ms = sc.parallelize([0], 1).mapPartitions(_invalidate_ms).collect()[0]
    assert ms < 20, f"worker-side invalidate_caches took {ms:.1f} ms"


def test_rewritten_archive_is_reread(spark):
    """The invalidation semantics are kept: a module added to an archive
    that is already on the worker path becomes importable after the
    next invalidate_caches()."""

    def _reread_probe(_):
        import importlib
        import os
        import shutil
        import sys
        import tempfile
        import zipfile

        d = tempfile.mkdtemp(prefix="hdk_daemon_probe_")
        archive = os.path.join(d, "probe.zip")

        def write(*mods):
            with zipfile.ZipFile(archive, "w") as zf:
                for m in mods:
                    zf.writestr(f"{m}.py", f"NAME = {m!r}\n")

        write("hdk_probe_one")
        sys.path.insert(0, archive)
        try:
            importlib.invalidate_caches()
            first = importlib.import_module("hdk_probe_one").NAME
            importlib.invalidate_caches()  # unchanged: the cached directory stays
            write("hdk_probe_one", "hdk_probe_two")  # rewritten: larger archive
            importlib.invalidate_caches()
            second = importlib.import_module("hdk_probe_two").NAME
        finally:
            sys.path.remove(archive)
            shutil.rmtree(d)
        yield first, second

    rows = spark.sparkContext.parallelize([0], 1).mapPartitions(_reread_probe).collect()
    assert rows == [("hdk_probe_one", "hdk_probe_two")]


def test_foreign_cwd_session_runs_pandas_udf():
    """Spark starts the daemon with ``python -m`` in the driver's cwd; the
    package's parent directory on the workers' PYTHONPATH lets it import
    when that cwd is not the repo root."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
import pandas as pd
from pyspark.sql import functions as F
from hdk_spark.session import get_spark

spark = get_spark("foreign_cwd")

@F.pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

got = sorted(r[0] for r in spark.range(5).select(plus_one("id")).collect())
assert got == [1, 2, 3, 4, 5], got
print("FOREIGN_CWD_OK")
"""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", script], cwd="/tmp", env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "FOREIGN_CWD_OK" in r.stdout, r.stderr[-2000:]


def test_build_conf_sets_daemon_only_for_local_masters(monkeypatch):
    from hdk_spark.session import build_conf

    daemon, path = "spark.python.daemon.module", "spark.executorEnv.PYTHONPATH"
    cpm = "spark.sql.streaming.checkpointFileManagerClass"
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local[2]")
    conf = build_conf()
    assert conf[daemon] == "hdk_spark.daemon"
    assert conf[path] == REPO
    assert conf[cpm] == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager")
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "spark://cluster:7077")
    conf = build_conf()
    assert daemon not in conf and path not in conf and cpm not in conf


def test_build_conf_reads_environment_at_call_time(monkeypatch):
    """The core count and driver heap set after import reach the conf."""
    from hdk_spark.session import build_conf

    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1234m")
    conf = build_conf()
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.driver.memory"] == "1234m"
