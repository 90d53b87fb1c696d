"""The engine's Python worker daemon (propagon_spark/_daemon.py).

``importlib.invalidate_caches()`` runs before every Python task; on
CPython < 3.13 it re-read every zip archive's directory each time. The
daemon's wrapper re-reads an archive only after it changed.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

old_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 invalidates zipimport caches lazily",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        for name, src in modules.items():
            z.writestr(f"zpkg/{name}.py", src)


@old_zipimport
def test_invalidate_rereads_archive_only_after_change(tmp_path, monkeypatch):
    from propagon_spark import _daemon

    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zpkg", raising=False)
    monkeypatch.delitem(sys.modules, "zpkg.a", raising=False)
    monkeypatch.delitem(sys.modules, "zpkg.b", raising=False)
    assert importlib.import_module("zpkg.a").X == 1

    # undone at teardown: the wrapper must not outlive this test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    _daemon.install()
    _daemon.install()  # idempotent: one wrapper, not two

    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zpkg.b").Y == 2


@old_zipimport
def test_python_workers_run_under_engine_daemon(spark):
    def probe(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    mods = spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect()
    assert mods == ["propagon_spark._daemon"] * 2
