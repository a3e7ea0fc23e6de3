"""The Python worker daemon: sessions built by ``get_spark`` fork their
workers from ``sigma_rx7_spark.daemon``, whose zip guard stops a worker
from re-reading ``pyspark.zip`` on every task while still re-reading an
archive that changed on disk."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap

import pytest

from sigma_rx7_spark.session import get_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_get_spark_sets_a_resolvable_daemon_module(spark):
    module = get_spark().sparkContext.getConf().get(
        "spark.python.daemon.module")
    assert module == "sigma_rx7_spark.daemon"
    assert importlib.util.find_spec(module) is not None


def test_worker_runs_under_the_zip_guard(spark):
    def patch_owner(batches):
        import zipimport

        import pyarrow as pa
        for _ in batches:
            owner = zipimport.zipimporter.invalidate_caches.__module__
            yield pa.RecordBatch.from_pylist([{"owner": owner}])

    rows = spark.range(1).mapInArrow(patch_owner, "owner string").collect()
    expected = ("sigma_rx7_spark.daemon" if sys.version_info < (3, 12)
                else "zipimport")
    assert {r["owner"] for r in rows} == {expected}


_GUARD_CHECK = textwrap.dedent("""
    import importlib, os, sys, zipfile, zipimport

    reads = []
    _read_directory = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return _read_directory(archive)

    zipimport._read_directory = counted
    from sigma_rx7_spark.daemon import guard_zip_rescans
    guard_zip_rescans()

    path = os.path.join(sys.argv[1], "lib.zip")

    def write(modules):
        with zipfile.ZipFile(path, "w") as z:
            for name in modules:
                z.writestr(name, "VALUE = 1\\n")

    # a package gives the archive a second importer, as pyspark.zip has 16
    write(["pkg/__init__.py", "pkg/a.py"])
    sys.path.insert(0, path)
    import pkg.a  # noqa: F401
    importlib.invalidate_caches()  # first read of each stamp
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [], reads

    write(["pkg/__init__.py", "pkg/a.py", "pkg/b.py"])
    importlib.invalidate_caches()
    assert reads, "a rewritten archive was not re-read"
    import pkg.b
    assert pkg.b.VALUE == 1
    print("ok")
""")


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="the guard is installed only before 3.12")
def test_zip_guard_rereads_only_a_changed_archive(tmp_path):
    # A subprocess, so this test process keeps the stock zipimporter.
    out = subprocess.run([sys.executable, "-c", _GUARD_CHECK, str(tmp_path)],
                         cwd=ROOT, capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
