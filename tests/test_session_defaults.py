"""Session bootstrap artifacts that need no Spark: the shipped package
zip is keyed by the package's content, and the default driver heap fits
the host."""

from __future__ import annotations

import os
import shutil
import tempfile
import zipfile

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
