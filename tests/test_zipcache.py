"""The zipimporter cache backport (hgt2osm2_spark/_zipcache.py), no Spark:
an unchanged archive is not re-read on invalidation, a rewritten one is,
install() is idempotent and a no-op on Python >= 3.13."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from hgt2osm2_spark import _zipcache


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "zc_mods.zip")
    _write_zip(path, {"zc_first": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zc_first", "zc_second"):
        sys.modules.pop(name, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in order."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="backport is a no-op")
def test_unchanged_archive_is_not_reread(zip_on_path, reads):
    assert importlib.import_module("zc_first").X == 1
    # the first invalidation after the importer was built stamps the
    # archive (one read, as before the backport); later ones are free
    importlib.invalidate_caches()
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zc_first").X == 1


def test_rewritten_archive_is_reread(zip_on_path, reads):
    importlib.import_module("zc_first")
    importlib.invalidate_caches()
    _write_zip(zip_on_path, {"zc_first": "X = 1\n", "zc_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_second").Y == 2
    assert zip_on_path in reads


def test_install_is_idempotent():
    # importing hgt2osm2_spark installed it already
    if sys.version_info < (3, 13):
        expected = _zipcache._invalidate_caches
    else:
        expected = _zipcache._reread
    assert zipimport.zipimporter.invalidate_caches is expected
    _zipcache.install()
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is expected


def test_install_leaves_zipimporter_alone_on_313(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _zipcache._reread)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is _zipcache._reread

