"""The engine's Python worker daemon (``auto_vectordb_spark.pydaemon``):
stat-keyed zipimport invalidation, and the session's workers running it."""

import zipfile
import zipimport
from unittest import mock

from auto_vectordb_spark import pydaemon


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, "X = 1\n")


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["pkg/__init__.py", "pkg/m1.py"])
    root = zipimport.zipimporter(archive)
    sub = zipimport.zipimporter(f"{archive}/pkg")
    assert sub.prefix == "pkg/"
    with mock.patch.object(zipimport, "_read_directory", wraps=zipimport._read_directory) as read:
        pydaemon.invalidate_caches(root)  # no stamp yet: reads once
        assert read.call_count == 1
        for importer in (sub, root, sub):  # unchanged archive: no read
            pydaemon.invalidate_caches(importer)
        assert read.call_count == 1

        _write_zip(archive, ["pkg/__init__.py", "pkg/m1.py", "pkg/m2.py"])
        pydaemon.invalidate_caches(root)
        pydaemon.invalidate_caches(sub)  # sees the re-read root made
        assert read.call_count == 2
    assert root.get_data("pkg/m2.py") == b"X = 1\n"
    assert sub.find_spec("pkg.m2") is not None


def test_session_workers_run_the_engine_daemon(spark):
    # nested, so it pickles by value: workers cannot import this module
    def report(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        module = zipimport.zipimporter.invalidate_caches.__module__
        yield pa.RecordBatch.from_pydict({"module": [module]})

    rows = spark.range(0, 4, numPartitions=2).mapInArrow(report, "module string").collect()
    assert [r.module for r in rows] == ["auto_vectordb_spark.pydaemon"] * 2
