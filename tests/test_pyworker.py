"""Import zips are parsed once per Python worker (pyworker.py): a repeated
``importlib.invalidate_caches()`` re-reads only archives that changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from quant_feature_pipeline_spark import pyworker

LAZY_ZIPIMPORT = hasattr(zipimport.zipimporter, "_get_files")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(LAZY_ZIPIMPORT, reason="zipimport already re-reads lazily")
def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    m1, m2 = "qfps_zipstamp_m1", "qfps_zipstamp_m2"
    _write_zip(archive, [m1])
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    sys.path.insert(0, archive)
    try:
        assert importlib.import_module(m1).NAME == m1
        assert pyworker.install()
        monkeypatch.setattr(zipimport, "_read_directory", counting_read)

        importlib.invalidate_caches()  # stamps the archive
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, [m1, m2])
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert importlib.import_module(m2).NAME == m2
        importlib.invalidate_caches()
        assert len(reads) == 1

        # an unreadable archive goes through the stock re-read, as before
        (tmp_path / "mods.zip").unlink()
        importlib.invalidate_caches()
        assert len(reads) == 2
        assert sys.path_importer_cache[archive]._files == {}
    finally:
        sys.path.remove(archive)
        for name in (m1, m2):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        pyworker._read_stamps.pop(archive, None)


def _second_invalidate_reads(batches):
    """Per task: how many archive directories a repeated
    importlib.invalidate_caches() reads in the Python worker."""
    import importlib
    import zipimport

    import quant_feature_pipeline_spark  # noqa: F401

    importlib.invalidate_caches()
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    zipimport._read_directory = counting_read
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = stock_read
    for _ in batches:
        pass
    yield pd.DataFrame({"reads": [len(reads)]})


def test_worker_rereads_no_unchanged_zip(spark):
    rows = (
        spark.range(0, 64, numPartitions=8)
        .mapInPandas(_second_invalidate_reads, "reads long")
        .collect()
    )
    assert len(rows) == 8
    assert [r.reads for r in rows] == [0] * 8
