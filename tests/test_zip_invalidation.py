"""The stat-gated ``zipimporter.invalidate_caches`` (``session.gate_zip_invalidation``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; before CPython 3.13 that re-reads every zip archive's central
directory. The gate skips archives whose ``stat`` did not change since the
last read, and must still pick up a rewritten archive.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from video_data_pipeline_spark.session import gate_zip_invalidation

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PRE_313 = sys.version_info < (3, 13)


@pytest.fixture
def zip_on_path(tmp_path):
    """An archive path whose ``sub/`` directory is also on ``sys.path``;
    ``sys.path``, the importer cache and the modules it adds are restored
    afterwards."""
    archive = str(tmp_path / "mods.zip")
    path, importers, modules = list(sys.path), dict(sys.path_importer_cache), set(sys.modules)
    sys.path[:0] = [archive, os.path.join(archive, "sub")]
    try:
        yield archive
    finally:
        sys.path[:] = path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(importers)
        for name in set(sys.modules) - modules:
            del sys.modules[name]
        zipimport._zip_directory_cache.pop(archive, None)


def _write_zip(archive: str, members: dict[str, str]) -> None:
    tmp = archive + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, body in members.items():
            zf.writestr(name, body)
    os.replace(tmp, archive)


def _reads_during_invalidate(monkeypatch, archive: str) -> int:
    reads = []
    stock = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return stock(path)

    with monkeypatch.context() as m:
        m.setattr(zipimport, "_read_directory", counted)
        importlib.invalidate_caches()
    return reads.count(archive)


@pytest.mark.skipif(not PRE_313, reason="3.13+ keeps the stock method")
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    _write_zip(zip_on_path, {"zgate_a.py": "A = 1\n", "sub/zgate_s.py": "S = 1\n"})
    import zgate_a  # noqa: F401
    import zgate_s  # noqa: F401

    assert _reads_during_invalidate(monkeypatch, zip_on_path) == 1  # first record
    assert _reads_during_invalidate(monkeypatch, zip_on_path) == 0
    assert _reads_during_invalidate(monkeypatch, zip_on_path) == 0


@pytest.mark.skipif(not PRE_313, reason="3.13+ keeps the stock method")
def test_rewritten_archive_is_reread_by_every_sibling(zip_on_path, monkeypatch):
    _write_zip(zip_on_path, {"zgate_a.py": "A = 1\n", "sub/zgate_s.py": "S = 1\n"})
    import zgate_a  # noqa: F401
    import zgate_s  # noqa: F401

    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        import zgate_b  # noqa: F401
    _write_zip(
        zip_on_path,
        {"zgate_a.py": "A = 1\n", "zgate_b.py": "B = 2\n",
         "sub/zgate_s.py": "S = 1\n", "sub/zgate_t.py": "T = 3\n"},
    )
    # one read for the archive, shared by both of its importers
    assert _reads_during_invalidate(monkeypatch, zip_on_path) == 1
    import zgate_b
    import zgate_t

    assert (zgate_b.B, zgate_t.T) == (2, 3)
    top = sys.path_importer_cache[zip_on_path]
    sub = sys.path_importer_cache[os.path.join(zip_on_path, "sub")]
    assert top._files is sub._files is zipimport._zip_directory_cache[zip_on_path]
    assert "sub/zgate_t.py" in top._files


def test_gate_is_idempotent_and_left_out_from_313(monkeypatch):
    method = zipimport.zipimporter.invalidate_caches
    assert getattr(method, "_stat_gated", False) == PRE_313
    gate_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is method

    stock = getattr(method, "__wrapped__", method)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    gate_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_bare_package_import_installs_the_gate():
    code = (
        "import zipimport, video_data_pipeline_spark as p; "
        "print(getattr(zipimport.zipimporter.invalidate_caches, '_stat_gated', False))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == str(PRE_313)


@pytest.mark.skipif(not PRE_313, reason="3.13+ invalidates zip caches lazily")
def test_reused_workers_reread_no_zip_directory(spark):
    from tools.smoke_gate import zip_rereads_per_task

    assert zip_rereads_per_task(spark, tasks=8) == [0] * 8
