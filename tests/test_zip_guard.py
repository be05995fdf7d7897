"""Importing the package stops ``importlib.invalidate_caches()`` from
re-reading an unchanged zip archive's directory (PySpark's worker calls it
before every task), and still re-reads one that changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import pii_detector_spark  # noqa: F401  (installs the guard)


def _write_zip(path: str, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(sys.version_info < (3, 13), reason="guarded below 3.13")
def test_no_guard_from_python_3_13():
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 re-reads lazily")
def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a"])
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    monkeypatch.setattr(
        sys, "path_importer_cache", dict(sys.path_importer_cache)
    )
    try:
        import a

        assert a.NAME == "a"
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            if path == archive:
                reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, ["a", "b"])
        importlib.invalidate_caches()
        assert reads == [archive]
        import b

        assert b.NAME == "b"
    finally:
        for name in ("a", "b"):
            sys.modules.pop(name, None)
        zipimport._zip_directory_cache.pop(archive, None)
