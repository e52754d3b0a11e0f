"""The worker daemon: where get_spark chooses it, and its zipimporter
patch (an unchanged archive is not re-read, a rewritten one is read once
and its new modules are found)."""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark import pydaemon
from gdal_spark.session import _worker_daemon

EAGER = sys.version_info < (3, 13)  # 3.13 defers the re-read itself


def write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, "X = 1\n")


@pytest.fixture()
def reads(monkeypatch, tmp_path):
    """Archive path and the list of directory reads made of it."""
    archive = str(tmp_path / "mods.zip")
    write_zip(archive, ["pkg/__init__.py", "pkg/a.py"])
    seen = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            seen.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return archive, seen


@pytest.mark.skipif(not EAGER, reason="3.13 zipimport reads lazily")
def test_stamped_invalidate_reads_only_a_changed_archive(reads,
                                                         monkeypatch):
    archive, seen = reads
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.stamped_invalidate())
    # the stock method would read the archive once per importer, twice
    # per invalidate_caches() round here
    top = zipimport.zipimporter(archive)
    sub = zipimport.zipimporter(os.path.join(archive, "pkg") + os.sep)
    seen.clear()
    top.invalidate_caches()  # no stamp yet: one read
    assert len(seen) == 1
    top.invalidate_caches()
    sub.invalidate_caches()  # unchanged archive: nothing read
    assert len(seen) == 1
    assert top.find_spec("c") is None

    write_zip(archive, ["pkg/__init__.py", "pkg/a.py", "pkg/b.py", "c.py"])
    sub.invalidate_caches()  # rewritten: read once ...
    top.invalidate_caches()  # ... and shared with the other importer
    assert len(seen) == 2
    assert sub.find_spec("pkg.b") is not None
    assert top.find_spec("c") is not None


def test_import_patches_nothing():
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "gdal_spark")


def test_daemon_follows_the_worker_start_up_path(monkeypatch, tmp_path):
    """The engine's daemon only where a local worker started in this
    working directory with this PYTHONPATH can import the package."""
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(REPO)  # the package is in the working directory
    assert _worker_daemon("local[2]", PACKAGE) == "gdal_spark.pydaemon"
    assert _worker_daemon("local", PACKAGE) == "gdal_spark.pydaemon"
    assert _worker_daemon("local-cluster[2,1,1024]", PACKAGE) \
        == "pyspark.daemon"
    assert _worker_daemon("spark://host:7077", PACKAGE) == "pyspark.daemon"
    monkeypatch.chdir(tmp_path)  # nowhere on the start-up path
    assert _worker_daemon("local[2]", PACKAGE) == "pyspark.daemon"
    monkeypatch.setenv("PYTHONPATH", REPO)
    assert _worker_daemon("local[2]", PACKAGE) == "gdal_spark.pydaemon"


def test_py_files_keep_the_stock_daemon(monkeypatch, tmp_path):
    """spark-submit --py-files puts the archive on the driver's PYTHONPATH
    only; a worker sees it per task, after its daemon started."""
    archive = str(tmp_path / "deps.zip")
    write_zip(archive, ["gdal_spark/__init__.py", "gdal_spark/pydaemon.py"])
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", archive)
    package = os.path.join(archive, "gdal_spark")
    assert _worker_daemon("local[2]", package) == "pyspark.daemon"
    assert _worker_daemon("yarn", package) == "pyspark.daemon"


def test_workers_fork_from_the_engine_daemon(spark):
    """A pandas UDF runs with the daemon's invalidate_caches."""

    @F.pandas_udf("string")
    def invalidate_impl(s: pd.Series) -> pd.Series:
        import os
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        return s.map(lambda _: "%s:%s" % (os.path.basename(
            code.co_filename), code.co_name))

    got = spark.range(1).select(invalidate_impl("id").alias("f")).first()
    want = ("pydaemon.py:invalidate_if_changed" if EAGER
            else "zipimport.py:invalidate_caches")
    assert got["f"] == want
