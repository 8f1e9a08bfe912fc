"""The stat-gated zip directory cache (lagespark._zipcache): every Python
task calls importlib.invalidate_caches(), and on Python < 3.12 the package
makes zipimporters skip re-reading archives that did not change. Imports
from a rewritten or deleted zip must behave exactly as before."""

from __future__ import annotations

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lagespark import _zipcache

PATCHED = sys.version_info < (3, 12)


def _write_zip(path, modules: dict[str, str], pad: int = 0) -> None:
    with zipfile.ZipFile(path, "w") as z:
        if pad:  # shifts every later entry, so a stale directory misreads
            z.writestr("pad.bin", b"\0" * pad)
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    monkeypatch.syspath_prepend(path)
    yield path
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _fresh_import(name: str):
    sys.modules.pop(name, None)
    return importlib.import_module(name)


def test_install_state_matches_interpreter(monkeypatch):
    method = zipimport.zipimporter.invalidate_caches
    assert (method is _zipcache._invalidate_caches) == PATCHED
    # an interpreter that re-reads lazily is left alone
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _zipcache._original)
    monkeypatch.setattr(_zipcache, "sys", types.SimpleNamespace(version_info=(3, 12, 0)))
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is _zipcache._original


def test_rewritten_zip_is_reread(zip_on_path):
    _write_zip(zip_on_path, {"zc_rewrite": "VALUE = 1\n"})
    assert _fresh_import("zc_rewrite").VALUE == 1
    importlib.invalidate_caches()
    before = os.stat(zip_on_path)
    _write_zip(zip_on_path, {"zc_rewrite": "VALUE = 2\n", "zc_added": "X = 3\n"}, pad=4096)
    os.utime(zip_on_path, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    assert os.stat(zip_on_path).st_size != before.st_size
    importlib.invalidate_caches()
    assert _fresh_import("zc_rewrite").VALUE == 2
    assert _fresh_import("zc_added").X == 3


def test_unchanged_zip_is_not_reread(zip_on_path, monkeypatch):
    _write_zip(zip_on_path, {"zc_same": "VALUE = 1\n"})
    assert _fresh_import("zc_same").VALUE == 1
    importlib.invalidate_caches()  # stamps every archive not yet stamped
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    importlib.invalidate_caches()
    if PATCHED:
        assert reads == []
    else:
        assert zip_on_path in reads
    assert _fresh_import("zc_same").VALUE == 1


def test_deleted_zip_is_dropped(zip_on_path):
    _write_zip(zip_on_path, {"zc_gone": "VALUE = 1\n"})
    assert _fresh_import("zc_gone").VALUE == 1
    importlib.invalidate_caches()
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert zip_on_path not in zipimport._zip_directory_cache
    with pytest.raises(ModuleNotFoundError):
        _fresh_import("zc_gone")


def test_worker_tasks_skip_the_reread(spark):
    """A UDF that references a lagespark module imports the package in the
    worker when it is unpickled, as every engine UDF does; from then on a
    task's invalidate_caches() reads no archive."""
    zc = _zipcache

    @F.pandas_udf("string")
    def report(s: pd.Series) -> pd.Series:
        real = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        archives = {v.archive for v in sys.path_importer_cache.values()
                    if isinstance(v, zipimport.zipimporter)}
        installed = zipimport.zipimporter.invalidate_caches is zc._invalidate_caches
        return pd.Series([f"{installed},{len(archives)},{len(reads)}"] * len(s))

    got = {r[0] for r in spark.range(0, 8, 1, 4).select(report("id")).collect()}
    for row in got:
        installed, archives, reads = row.split(",")
        assert installed == str(PATCHED)
        assert int(archives) > 0  # pyspark.zip at least: the cache has work to skip
        assert int(reads) == 0 or not PATCHED
