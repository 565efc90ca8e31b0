"""The engine's Python worker daemon (:mod:`ais_etl_spark.worker_daemon`):
a Python task re-reads a zip archive on ``sys.path`` only when the
archive changed, and a changed archive is read again."""

import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

from ais_etl_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def test_unchanged_archive_is_not_read_again(tmp_path, monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(worker_daemon, "_read", {})
    assert worker_daemon.install()
    assert not worker_daemon.install()  # already replaced

    archive = str(tmp_path / "lib.zip")
    a, b = (f"wd_{n}_{uuid.uuid4().hex}" for n in "ab")
    _write_zip(archive, {a: "X = 1"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(a).X == 1
    original = zipimport._read_directory
    reads = []

    def counting(path):
        reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # first call in this process: one read
    assert reads.count(archive) == 1
    importlib.invalidate_caches()
    assert reads.count(archive) == 1

    # a second importer over the archive (pyspark.zip has one per
    # package) takes the directory the first one read
    other = zipimport.zipimporter(archive)
    _write_zip(archive, {a: "X = 1", b: "Y = 2"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    other.invalidate_caches()
    assert reads.count(archive) == 2
    assert other.find_spec(b) is not None
    try:
        assert importlib.import_module(b).Y == 2
    finally:
        sys.modules.pop(a, None)
        sys.modules.pop(b, None)


def test_install_leaves_a_python_without_the_method_alone(monkeypatch):
    monkeypatch.delattr(zipimport.zipimporter, "invalidate_caches")
    assert not worker_daemon.install()
    assert not hasattr(zipimport.zipimporter, "invalidate_caches")


def test_reused_worker_reads_no_unchanged_archive(spark):
    """Every Python task calls ``importlib.invalidate_caches()``; with
    PySpark's stock daemon that re-reads ``pyspark.zip`` once per
    zipimporter over it (16 times for this UDF) on every task."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.daemon.module") == worker_daemon.__name__
    # the daemon imports the engine at start, wherever the JVM runs from
    root = os.path.dirname(os.path.dirname(os.path.abspath(worker_daemon.__file__)))
    assert root in spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)

    @F.udf("array<long>")
    def reads_per_invalidate(_):
        import importlib
        import os
        import zipimport

        original = zipimport._read_directory
        reads = []

        def counting(path):
            reads.append(path)
            return original(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        return [os.getpid(), len(reads)]

    one = spark.range(1).coalesce(1)
    # idle workers are reused in turn, so one comes back once every
    # idle worker of the session has run a task
    runs, pids = [], set()
    while len(runs) < 64:
        pid, reads = one.select(reads_per_invalidate("id")).first()[0]
        runs.append((pid, reads))
        if pid in pids:
            break
        pids.add(pid)
    assert runs[-1][0] in pids, f"no worker was reused in {len(runs)} tasks"
    assert runs[-1][1] == 0, runs


def test_workers_import_the_engine_from_any_directory(tmp_path):
    """The daemon imports the engine before any task runs, so a driver
    started from another directory with no ``PYTHONPATH`` (as under
    ``spark-submit --py-files``) still runs a Python UDF."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(worker_daemon.__file__)))
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {root!r})
        from pyspark.sql import functions as F
        from ais_etl_spark import get_spark
        spark = get_spark(master="local[1]", shuffle_partitions=1)
        plus1 = F.pandas_udf(lambda s: s + 1, "long")
        print("ROWS", [r[0] for r in spark.range(2).select(plus1("id")).collect()])
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    run = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert "ROWS [1, 2]" in run.stdout, run.stderr[-3000:]
