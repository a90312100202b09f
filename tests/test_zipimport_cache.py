"""Stat-checked zipimporter invalidation (surya_spark/zipimport_cache.py):
an unchanged archive is not re-read, a rewritten one is, and a reused
Python worker runs the installed version at task start."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from surya_spark import zipimport_cache

pytestmark = pytest.mark.skipif(
    not zipimport_cache.install(),
    reason="zipimport re-reads archives eagerly only on CPython 3.10-3.12")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_probe_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("zc_probe_a", "zc_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    zipimport_cache._seen.pop(archive, None)


def _count_reads(monkeypatch, archive) -> list:
    reads = []
    original = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    assert zipimport_cache.install()
    assert zipimport_cache.install()  # idempotent
    assert (zipimport.zipimporter.invalidate_caches
            is zipimport_cache._invalidate_caches)
    assert importlib.import_module("zc_probe_a").VALUE == 1
    reads = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()  # first invalidation records the stat
    assert len(reads) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1


def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    assert importlib.import_module("zc_probe_a").VALUE == 1
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zc_probe_b")
    reads = _count_reads(monkeypatch, zip_on_path)
    _write_zip(zip_on_path, {"zc_probe_a": "VALUE = 1\n",
                             "zc_probe_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zc_probe_b").VALUE == 2


def test_reused_worker_runs_installed_invalidation(spark):
    """Warm-up job first: a worker installs the fix when it unpickles a
    surya_spark UDF, so only its LATER tasks start through it."""

    def probe(batches):
        import zipimport

        import pandas as pd

        from surya_spark import zipimport_cache as zc

        for _ in batches:
            yield pd.DataFrame({
                "installed": [zipimport.zipimporter.invalidate_caches
                              is zc._invalidate_caches],
                "skipped": [zc.reads_skipped],
            })

    df = spark.range(0, 8, numPartitions=8)
    schema = "installed boolean, skipped long"
    df.mapInPandas(probe, schema).collect()
    rows = df.mapInPandas(probe, schema).collect()
    assert len(rows) == 8
    assert all(r.installed for r in rows)
    # a task that started on a warm worker skipped its archive re-reads
    assert any(r.skipped > 0 for r in rows)
