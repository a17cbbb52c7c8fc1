"""``_zipimport_cache``: an unchanged archive is not re-read on
``importlib.invalidate_caches()``, a changed one still is."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import pagerank_spark  # noqa: F401  (installs the patch)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="CPython 3.12+ re-reads lazily")
def test_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "zc_pkg.zip")
    _write_zip(archive, {"zc_pkg/__init__.py": "", "zc_pkg/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for mod in ("zc_pkg", "zc_pkg.a", "zc_pkg.b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("zc_pkg.a").X == 1

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    importlib.invalidate_caches()  # first stamp of each importer
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads

    # a replaced archive (new size and mtime) is re-read, so a module added
    # to it becomes importable
    _write_zip(archive, {"zc_pkg/__init__.py": "", "zc_pkg/a.py": "X = 1\n",
                         "zc_pkg/b.py": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("zc_pkg.b").Y == 2
