"""The worker daemon's lazy zipimport invalidation
(argostats_spark/daemon.py): an unchanged archive is not re-read by
``importlib.invalidate_caches()``, a changed one still is, and the
session selects the daemon only where the daemon can import it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from argostats_spark import daemon, session

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 re-reads zips lazily itself"
)


def _write_zip(path, modules: dict[str, str], mtime_ns: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.utime(path, ns=(mtime_ns, mtime_ns))


def test_unchanged_zip_is_not_reread_and_changed_zip_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "lazy_pkgs.zip")
    _write_zip(archive, {"lazy_mod_a": "V = 1\n"}, 1_000_000_000_000_000_000)
    monkeypatch.syspath_prepend(archive)
    # restore the stock method and the daemon's read log afterwards
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(daemon, "_read", {})
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p)
    )
    try:
        assert importlib.import_module("lazy_mod_a").V == 1
        daemon.install()
        daemon.install()  # idempotent
        importlib.invalidate_caches()  # first call reads once, then stamps
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"lazy_mod_a": "V = 1\n", "lazy_mod_b": "V = 2\n"},
                   1_000_000_000_000_000_001)
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("lazy_mod_b").V == 2
    finally:
        for name in ("lazy_mod_a", "lazy_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_session_selects_daemon_only_where_it_imports(tmp_path, monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    want = {"spark.python.daemon.module": "argostats_spark.daemon"}
    monkeypatch.setattr("site.getsitepackages", lambda: [])
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(root)
    assert session._worker_daemon_conf(local=True) == want
    assert session._worker_daemon_conf(local=False) == {}
    monkeypatch.chdir(tmp_path)  # e.g. a driver that ships the package by addPyFile
    assert session._worker_daemon_conf(local=True) == {}
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert session._worker_daemon_conf(local=True) == want
