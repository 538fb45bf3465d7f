"""Session bootstrap artifacts that need no Spark: the shipped package
zip is keyed by the package's content, the default driver heap fits
the host, zip importers check their archive by stat before re-reading
it, and the package version is resolved on first use."""

from __future__ import annotations

import importlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile
import zipimport

import pytest

import tinymr_spark
from tinymr_spark import session


def test_package_zip_keyed_by_content(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    pkg = tmp_path / "tinymr_spark"
    shutil.copytree(
        os.path.dirname(tinymr_spark.__file__),
        pkg,
        ignore=shutil.ignore_patterns("__pycache__"),
    )

    first = session.package_zip(str(pkg))
    assert os.path.dirname(first) == str(tmp_path)
    assert os.path.basename(first).startswith("tinymr_spark_pkg")
    assert session.package_zip(str(pkg)) == first  # unedited: same zip

    with open(pkg / "session.py", "a") as f:
        f.write("\n# edited\n")
    edited = session.package_zip(str(pkg))
    assert edited != first
    with zipfile.ZipFile(edited) as zf:
        assert zf.read("tinymr_spark/session.py").endswith(b"# edited\n")
    # no half-written temporaries left behind
    assert sorted(p.name for p in tmp_path.glob("*.zip")) == sorted(
        os.path.basename(p) for p in (first, edited)
    )
    assert not list(tmp_path.glob(".tinymr_spark_pkg_*"))


def test_default_driver_memory_fits_host():
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = session._default_driver_memory()
    mb = 48 << 10 if mem == "48g" else int(mem.removesuffix("m"))
    assert mb <= 48 << 10
    assert mb <= 0.6 * ram / 2**20


def _write_zip(archive, modules):
    """Replace ``archive`` with a zip holding ``name.py`` -> ``VALUE = v``."""
    part = archive.with_suffix(".part")
    with zipfile.ZipFile(part, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")
    os.replace(part, archive)


@pytest.fixture
def zipped(tmp_path, monkeypatch):
    """An importer for a zip on ``sys.path`` that holds one module, and a
    list that records the archive every ``zipimport._read_directory``
    call reads.  ``zipimporter.invalidate_caches`` is restored after."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    archive = tmp_path / "mods.zip"
    name = f"zmod_{tmp_path.name}".replace("-", "_")
    _write_zip(archive, {name: 1})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module(name).VALUE == 1
    finally:
        sys.modules.pop(name, None)
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, name, importer, reads


needs_eager_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ zipimporter.invalidate_caches is already lazy",
)


@needs_eager_zip_invalidation
def test_zip_stat_check_skips_unchanged_archive(zipped):
    archive, _name, _importer, reads = zipped
    importlib.invalidate_caches()  # stock: re-reads the whole directory
    assert reads.count(str(archive)) == 1
    session._check_zips_by_stat()
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 0


@needs_eager_zip_invalidation
def test_zip_stat_check_rereads_rewritten_archive(zipped):
    archive, name, _importer, reads = zipped
    session._check_zips_by_stat()
    _write_zip(archive, {name: 1, f"{name}_new": 2})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    try:
        assert importlib.import_module(f"{name}_new").VALUE == 2
    finally:
        sys.modules.pop(f"{name}_new", None)
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1


def _second_importer(archive):
    """A second importer of ``archive`` (a package prefix inside it, as
    pyspark.zip has one per package), registered like a path entry."""
    path = os.path.join(str(archive), "pkg")
    importer = zipimport.zipimporter(path)
    sys.path_importer_cache[path] = importer
    return importer


@needs_eager_zip_invalidation
def test_zip_stat_check_reads_shared_archive_once(zipped):
    archive, _name, importer, reads = zipped
    other = _second_importer(archive)
    reads.clear()
    session._check_zips_by_stat()  # install refreshes both importers
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert other._files is importer._files


@needs_eager_zip_invalidation
def test_zip_stat_check_rereads_shared_archive_once_per_rewrite(zipped):
    archive, name, importer, reads = zipped
    other = _second_importer(archive)
    session._check_zips_by_stat()
    for n in (2, 3):
        _write_zip(archive, {name: 1, f"{name}_v{n}": n})
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        for imp in (importer, other):
            assert imp._files is zipimport._zip_directory_cache[str(archive)]
            assert f"{name}_v{n}.py" in imp._files


@needs_eager_zip_invalidation
def test_zip_stat_check_empties_importer_of_deleted_archive(zipped):
    archive, _name, importer, reads = zipped
    session._check_zips_by_stat()
    os.remove(archive)
    reads.clear()
    importlib.invalidate_caches()  # the stock path: no raise
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 2
    assert importer._files == {}
    assert str(archive) not in zipimport._zip_directory_cache


@needs_eager_zip_invalidation
def test_zip_stat_check_installs_once(zipped):
    stock = zipimport.zipimporter.invalidate_caches
    session._check_zips_by_stat()
    patched = zipimport.zipimporter.invalidate_caches
    session._check_zips_by_stat()
    assert zipimport.zipimporter.invalidate_caches is patched
    assert patched is not stock and patched.__wrapped__ is stock


@pytest.mark.skipif(
    sys.version_info < (3, 13), reason="the stat check is installed below 3.13"
)
def test_zip_stat_check_is_a_no_op_on_lazy_zipimport(zipped):
    stock = zipimport.zipimporter.invalidate_caches
    session._check_zips_by_stat()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_version_resolves_on_first_use():
    code = (
        "import tinymr_spark\n"
        "assert '__version__' not in vars(tinymr_spark)\n"
        "ns = {}\n"
        "exec('from tinymr_spark import *', ns)\n"
        "assert ns['__version__'] == tinymr_spark.__version__\n"
        "print(vars(tinymr_spark)['__version__'])\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    assert out.stdout.strip() == tinymr_spark.__version__
