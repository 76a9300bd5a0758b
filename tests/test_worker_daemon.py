"""The engine's worker daemon guard on ``zipimporter.invalidate_caches``.

No Spark: each test builds a zip archive, imports from it, and counts
``zipimport._read_directory`` calls. The worker-side check lives in
``tests/test_handler.py``.
"""

import importlib.util
import os
import zipfile
import zipimport

import pytest

from aics_dask_utils_spark import _worker_daemon

eager = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this CPython's zipimporter reads its directory lazily; the guard is not installed",
)


@pytest.fixture
def reads(monkeypatch):
    """Install the guard for one test; returns the list of directory reads."""
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    monkeypatch.setattr(_worker_daemon, "_stamps", {})
    monkeypatch.setattr(_worker_daemon, "rereads", 0)
    seen = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: seen.append(path) or stock_read(path)
    )
    _worker_daemon.install()
    return seen


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in members.items():
            z.writestr(name, body)
    return str(path)


def _load(importer, name):
    spec = importer.find_spec(name)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@eager
def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = _write_zip(tmp_path / "a.zip", {"zshim_a.py": "X = 1\n"})
    first, second = zipimport.zipimporter(archive), zipimport.zipimporter(archive)
    assert _load(first, "zshim_a").X == 1
    first.invalidate_caches()  # stamps the archive: one stock read
    del reads[:]
    for _ in range(3):
        first.invalidate_caches()
        second.invalidate_caches()
    assert reads == []
    assert _worker_daemon.rereads == 1
    assert first._files is second._files is zipimport._zip_directory_cache[archive]


@eager
def test_rewritten_archive_is_read_once_and_new_member_imports(tmp_path, reads):
    archive = _write_zip(tmp_path / "b.zip", {"zshim_b.py": "X = 1\n"})
    first, second = zipimport.zipimporter(archive), zipimport.zipimporter(archive)
    first.invalidate_caches()
    _write_zip(archive, {"zshim_b.py": "X = 1\n", "zshim_b_new.py": "Y = 2\n"})
    del reads[:]
    first.invalidate_caches()
    second.invalidate_caches()
    assert reads == [archive]
    assert _load(second, "zshim_b_new").Y == 2


@eager
def test_deleted_archive_behaves_as_stock(tmp_path, reads):
    archive = _write_zip(tmp_path / "c.zip", {"zshim_c.py": "X = 1\n"})
    guarded = zipimport.zipimporter(archive)
    guarded.invalidate_caches()
    os.remove(archive)
    guarded.invalidate_caches()
    assert guarded._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_install_is_a_no_op_on_a_lazy_importer(monkeypatch):
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    monkeypatch.setattr(cls, "_get_files", lambda self: self._files, raising=False)
    stock = cls.invalidate_caches
    _worker_daemon.install()
    assert cls.invalidate_caches is stock


@eager
def test_unstattable_archive_always_takes_the_stock_path(tmp_path, reads, monkeypatch):
    archive = _write_zip(tmp_path / "d.zip", {"zshim_d.py": "X = 1\n"})
    guarded = zipimport.zipimporter(archive)
    monkeypatch.setattr(_worker_daemon, "_stamp", lambda path: None)
    del reads[:]
    guarded.invalidate_caches()
    guarded.invalidate_caches()
    assert reads == [archive, archive]
