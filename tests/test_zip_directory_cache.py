"""``importlib.invalidate_caches()`` must not re-read an unchanged zip
archive's directory once the engine is imported, and must still re-read a
rewritten one (webgraph_ans_rs_spark/_zipcache.py). PySpark workers call it
at the start of every task, with pyspark.zip on their path."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import webgraph_ans_rs_spark  # noqa: F401


def _write_zpkg(archive, extra=False):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "X = 1\n")
        if extra:
            z.writestr("zpkg/extra.py", "Y = 2\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "zpkg.zip")
    _write_zpkg(archive)
    saved_path = list(sys.path)
    saved_importers = dict(sys.path_importer_cache)
    sys.path.insert(0, archive)
    try:
        import zpkg

        assert zpkg.X == 1
        reads = []
        read = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda a: reads.append(a) or read(a)
        )
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zpkg(archive, extra=True)
        importlib.invalidate_caches()
        # one read serves every importer of the rewritten archive
        assert reads == [archive]
        import zpkg.extra

        assert zpkg.extra.Y == 2
    finally:
        sys.path[:] = saved_path
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
            del sys.modules[name]
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_importers)
        zipimport._zip_directory_cache.pop(archive, None)


def test_python_worker_skips_unchanged_archives(spark):
    def count_rereads(batches):
        import importlib
        import zipimport

        import pandas as pd

        import webgraph_ans_rs_spark  # noqa: F401

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({"rereads": [len(reads)]})

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(count_rereads, "rereads long")
        .collect()
    )
    assert [r.rereads for r in rows] == [0, 0, 0, 0]
