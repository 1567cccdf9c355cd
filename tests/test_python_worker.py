"""Python workers fork from ``logpump_spark.pydaemon``: before Python
3.12 they re-read a zip archive on ``importlib.invalidate_caches()`` only
when the archive changed, and they are reused across jobs."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from logpump_spark import pydaemon


lazy_invalidate = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="3.12 invalidates zip caches lazily"
)


@lazy_invalidate
def test_udf_worker_uses_stat_gated_invalidate(spark):
    @F.udf("string")
    def invalidate_source(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__code__.co_filename

    (row,) = spark.range(1).select(invalidate_source("id").alias("f")).collect()
    assert row.f.endswith(os.path.join("logpump_spark", "pydaemon.py")), row.f


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@lazy_invalidate
def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"m1": "X = 1\n"})
    importer = zipimport.zipimporter(path)
    reads = []
    cpython_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return cpython_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)

    pydaemon.invalidate_caches(importer)
    assert reads == [path]  # first call: no read recorded yet
    pydaemon.invalidate_caches(importer)
    assert reads == [path]  # unchanged archive: no re-read

    _write_zip(path, {"m1": "X = 1\n", "m2": "Y = 2\n"})
    pydaemon.invalidate_caches(importer)
    assert reads == [path, path]
    spec = importer.find_spec("m2")
    assert spec is not None
    mod = type(sys)("m2")
    spec.loader.exec_module(mod)
    assert mod.Y == 2

    os.remove(path)
    pydaemon.invalidate_caches(importer)
    assert importer._files == {}  # what CPython's own method leaves


def _children(pid: int) -> set[int]:
    out = subprocess.run(
        ["ps", "-o", "pid=", "--ppid", str(pid)], capture_output=True, text=True, check=False
    ).stdout
    return {int(p) for p in out.split()}


def test_consecutive_jobs_reuse_the_daemon_workers(spark):
    sc = spark.sparkContext

    def job() -> set[tuple[int, int]]:
        def task(_):
            import os
            import time

            time.sleep(0.3)  # hold the slot, so the 4 tasks overlap
            yield os.getpid(), os.getppid()

        return set(sc.parallelize(range(4), 4).mapPartitions(task).collect())

    first = job()
    (daemon,) = {ppid for _, ppid in first}
    with open(f"/proc/{daemon}/cmdline", "rb") as f:
        argv = f.read().split(b"\0")
    assert b"logpump_spark.pydaemon" in argv and b"pyspark.worker" in argv, argv
    workers = _children(daemon)
    assert {pid for pid, _ in first} <= workers
    second = job()
    # the idle pool is a queue, so with more than 4 idle workers the two
    # jobs may take different ones; either way none is forked anew
    assert {pid for pid, _ in second} <= workers
    assert {ppid for _, ppid in second} == {daemon}
