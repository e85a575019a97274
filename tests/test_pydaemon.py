"""The worker daemon's archive-aware import-cache invalidation
(fink_science_spark/pydaemon.py): skipped re-reads must never leave an
importer with a stale directory, and files shipped with ``addPyFile``
must stay importable by the next task."""

from __future__ import annotations

import importlib.util
import os
import uuid
import zipfile
import zipimport

import pytest

from fink_science_spark.pydaemon import _invalidate_caches


def _write_zip(path, modules: dict[str, str], mtime_ns: int | None = None):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    if mtime_ns is not None:
        os.utime(path, ns=(mtime_ns, mtime_ns))


def _import_from(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not found in {importer.archive}"
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def reads(monkeypatch):
    """Count zipimport._read_directory calls (the central-directory read
    that the stock invalidate_caches repeats on every call)."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a": "VALUE = 1\n"})
    zi = zipimport.zipimporter(path)
    _invalidate_caches(zi)  # no stamp yet: reads once
    n = len(reads)
    for _ in range(3):
        _invalidate_caches(zi)
    assert len(reads) == n
    assert _import_from(zi, "mod_a").VALUE == 1


def test_rewritten_archive_is_reread(tmp_path, reads):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a": "VALUE = 1\n"}, mtime_ns=1_000_000_000)
    zi = zipimport.zipimporter(path)
    _invalidate_caches(zi)
    assert zi.find_spec("mod_b") is None

    _write_zip(
        path,
        {"mod_a": "VALUE = 1\n", "mod_b": "VALUE = 2\n"},
        mtime_ns=2_000_000_000,
    )
    n = len(reads)
    _invalidate_caches(zi)
    assert len(reads) == n + 1
    assert _import_from(zi, "mod_b").VALUE == 2


def test_second_importer_on_same_archive_is_not_stale(tmp_path, reads):
    """Each importer tracks what it read itself: refreshing one importer
    must not mark another importer of the same archive as fresh."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a": "VALUE = 1\n"}, mtime_ns=1_000_000_000)
    first = zipimport.zipimporter(path)
    second = zipimport.zipimporter(path)
    _invalidate_caches(first)
    _invalidate_caches(second)

    _write_zip(
        path,
        {"mod_a": "VALUE = 1\n", "mod_c": "VALUE = 3\n"},
        mtime_ns=2_000_000_000,
    )
    _invalidate_caches(first)
    n = len(reads)
    _invalidate_caches(second)
    assert len(reads) == n + 1
    assert _import_from(second, "mod_c").VALUE == 3


def test_workers_run_the_daemon_and_see_added_py_files(spark, tmp_path):
    """Inside a task the zipimporter method is the daemon's, and each zip
    added mid-session with ``addPyFile`` is importable by the next task
    (the property the skipped re-reads must not break)."""
    sc = spark.sparkContext

    def method_origin(_):
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        yield os.path.basename(code.co_filename), code.co_name

    origins = set(sc.parallelize(range(4), 4).mapPartitions(method_origin).collect())
    assert origins == {("pydaemon.py", "_invalidate_caches")}

    for value in (1, 2, 3):
        name = f"addpy_probe_{uuid.uuid4().hex}"
        path = str(tmp_path / f"{name}.zip")
        _write_zip(path, {name: f"VALUE = {value}\n"})
        sc.addPyFile(path)

        def load(_, name=name):
            yield importlib.import_module(name).VALUE

        got = sc.parallelize(range(4), 4).mapPartitions(load).collect()
        assert got == [value] * 4
