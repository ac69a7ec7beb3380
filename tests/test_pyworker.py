"""The Python worker daemon (``pyworker``): ``importlib.invalidate_caches()``
re-reads a zip archive only when it has changed, and ``get_spark`` is the
one place that selects the daemon."""

from __future__ import annotations

import ast
import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from kafka_connect_morphlines_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    """Write ``modules`` to a fresh file renamed over ``path``, as a deploy
    would (a new inode, so the stamp changes even at an equal size)."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)
    os.replace(tmp, path)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding ``pw_first``, the engine's
    ``invalidate_caches`` installed, and a list that records every directory
    read of that zip."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"pw_first": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    monkeypatch.syspath_prepend(path)
    try:
        assert importlib.import_module("pw_first").X == 1
        yield path, reads
    finally:
        for name in ("pw_first", "pw_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_zip_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()  # the importer's first read through the wrapper
    before = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == before


def test_rewritten_zip_is_reread_and_new_module_importable(archive):
    path, reads = archive
    importlib.invalidate_caches()
    before = len(reads)
    _write_zip(path, {"pw_first": "X = 1\n", "pw_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == before + 1
    assert importlib.import_module("pw_second").Y == 2
    importlib.invalidate_caches()
    assert len(reads) == before + 1


def test_vanished_zip_behaves_as_the_original_method(archive):
    path, reads = archive
    importer = sys.path_importer_cache[path]
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    # The original method's outcome: no files, and no cached directory.
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache
    with pytest.raises(ImportError):
        importlib.import_module("pw_second")
    # Back again (same name, possibly the same stamp): read once more.
    _write_zip(path, {"pw_first": "X = 1\n", "pw_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("pw_second").Y == 2


def test_python_tasks_run_the_engine_invalidate_caches(spark):
    import pyarrow as pa

    def report(batches):
        import zipimport as zi

        for b in batches:
            yield pa.RecordBatch.from_pydict({"f": [zi.zipimporter.invalidate_caches.__code__.co_filename] * b.num_rows})

    rows = spark.range(4, numPartitions=2).mapInArrow(report, "f string").distinct().collect()
    assert [r.f for r in rows] == [pyworker.__file__]


def test_daemon_module_is_set_only_in_get_spark():
    """The conf key appears as a string literal in one place in the tree:
    inside ``session.get_spark``.  Docstrings that name it do not count."""
    key = "spark.python.daemon." + "module"  # split: not a literal of this file
    session_path = os.path.join(REPO, "kafka_connect_morphlines_spark", "session.py")
    found = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "__pycache__"]
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            owner = {}
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef):
                    for node in ast.walk(fn):
                        owner.setdefault(node, fn.name)
            for node in ast.walk(tree):
                if isinstance(node, ast.Constant) and isinstance(node.value, str):
                    if node.value == key or node.value.startswith(key + "="):
                        found.append((os.path.relpath(path, REPO), owner.get(node)))
    assert found == [(os.path.relpath(session_path, REPO), "get_spark")]
