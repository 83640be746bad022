"""The worker daemon's zipimporter wrapper, without Spark: an unchanged
archive keeps its directory, a rewritten one is re-read, and an archive
that cannot be stat'ed gets the stock re-read. The wrapper is called
directly; this process's own ``zipimport`` is never patched."""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

import pytest

from adenhq_hive_spark.worker_daemon import reread_when_changed

STOCK = zipimport.zipimporter.invalidate_caches


def _write_archive(path, modules):
    """Write ``modules`` ({name: value}) as ``pkg/<name>.py`` into a new
    zip that replaces ``path``, so the archive gets a new inode."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr("pkg/__init__.py", "")
        for name, value in modules.items():
            zf.writestr(f"pkg/{name}.py", f"VALUE = {value!r}\n")
    os.replace(tmp, path)


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not found in {importer.archive}"
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.VALUE


@pytest.fixture
def archive(tmp_path):
    path = str(tmp_path / "deps.zip")
    _write_archive(path, {"a": 1})
    return path


@pytest.fixture
def counted():
    """(wrapper, calls): the wrapper over a stock re-read that counts
    its calls."""
    calls = []

    def stock(self):
        calls.append(self.archive)
        STOCK(self)

    return reread_when_changed(stock), calls


def test_importing_the_module_leaves_zipimport_alone():
    assert zipimport.zipimporter.invalidate_caches is STOCK


def test_unchanged_archive_keeps_each_importers_file_table(archive, counted):
    invalidate, calls = counted
    # one importer per package directory, as for pyspark.zip
    importers = [zipimport.zipimporter(archive),
                 zipimport.zipimporter(os.path.join(archive, "pkg"))]
    for imp in importers:
        invalidate(imp)
    tables = [imp._files for imp in importers]
    assert calls == [archive]  # one read for both importers
    for _ in range(3):
        for imp in importers:
            invalidate(imp)
    assert [imp._files for imp in importers] == tables
    assert all(imp._files is t for imp, t in zip(importers, tables))
    assert calls == [archive]
    assert _load(importers[1], "a") == 1


def test_rewritten_archive_is_reread_and_its_new_module_imports(archive, counted):
    invalidate, calls = counted
    imp = zipimport.zipimporter(os.path.join(archive, "pkg"))
    invalidate(imp)
    assert imp.find_spec("b") is None
    _write_archive(archive, {"a": 1, "b": 2})
    invalidate(imp)
    assert calls == [archive, archive]
    assert _load(imp, "b") == 2


def test_stat_failure_runs_the_stock_reread(archive, counted):
    invalidate, calls = counted
    imp = zipimport.zipimporter(os.path.join(archive, "pkg"))
    invalidate(imp)
    os.remove(archive)
    invalidate(imp)
    assert calls == [archive, archive]
    assert imp._files == {}
    assert archive not in zipimport._zip_directory_cache
