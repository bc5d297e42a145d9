"""Per-task import cost in PySpark workers: importing readability_spark in a
worker stops importlib.invalidate_caches() (called by PySpark once per task)
from re-reading every zip archive on the worker's path, while directories
on the path are still re-listed and the driver is left alone."""

import sys
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ re-reads zip archive directories lazily")


def _count_directory_reads(fn):
    """Calls of zipimport._read_directory made while running ``fn``."""
    reads = []
    orig = zipimport._read_directory
    zipimport._read_directory = \
        lambda path: (reads.append(path), orig(path))[1]
    try:
        fn()
    finally:
        zipimport._read_directory = orig
    return len(reads)


def test_worker_invalidate_caches_reads_no_archive(spark):
    def probe(_):
        # self-contained: a test-module global would be pickled by
        # reference, and workers cannot import the test module
        import importlib
        import os
        import tempfile

        import readability_spark.udfs  # noqa: F401  (what a UDF unpickles)

        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        calls = []
        orig = zipimport._read_directory
        zipimport._read_directory = \
            lambda path: (calls.append(path), orig(path))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        reads = len(calls)

        # a .py file that appears in a directory already on sys.path (how
        # SparkFiles and --py-files .py files arrive) still imports
        d = tempfile.mkdtemp()
        sys.path.insert(0, d)
        try:
            try:
                importlib.import_module("rs_probe_late_module")
            except ImportError:
                pass               # caches the directory's (empty) listing
            with open(os.path.join(d, "rs_probe_late_module.py"), "w") as f:
                f.write("VALUE = 42\n")
            importlib.invalidate_caches()
            value = importlib.import_module("rs_probe_late_module").VALUE
        finally:
            sys.path.remove(d)
            sys.modules.pop("rs_probe_late_module", None)
        yield n_zip, reads, value

    results = spark.sparkContext.parallelize(range(4), 4) \
        .mapPartitions(probe).collect()
    assert len(results) == 4
    for n_zip, reads, value in results:
        assert n_zip > 0           # the worker does import from archives
        assert reads == 0
        assert value == 42


def test_driver_invalidate_caches_still_rescans(tmp_path):
    import readability_spark.udfs  # noqa: F401

    archive = tmp_path / "probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("probe_mod.py", "X = 1\n")
    importer = zipimport.zipimporter(str(archive))
    assert _count_directory_reads(importer.invalidate_caches) == 1
