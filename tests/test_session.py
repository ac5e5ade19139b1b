"""The engine's import-time backport of CPython 3.13's lazy zipimport
invalidation (``session._lazy_zipimport_invalidation``): after the engine
import, ``importlib.invalidate_caches()`` re-reads no zip archive, on the
driver and in a Python worker, and imports from a rewritten or deleted
archive behave as they do on 3.13."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import multi_model_vectorsearch_spark  # noqa: F401  (installs the backport)

# runtimes the backport changes: their zipimporter re-reads eagerly
EAGER = not hasattr(zipimport.zipimporter, "_get_files")


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


class _CountReads:
    """Counts ``zipimport._read_directory`` calls inside the block."""

    def __enter__(self):
        self.calls = 0
        self._orig = zipimport._read_directory

        def counted(archive):
            self.calls += 1
            return self._orig(archive)

        zipimport._read_directory = counted
        return self

    def __exit__(self, *exc):
        zipimport._read_directory = self._orig


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip archive holding ``mmvs_zmod_a`` on ``sys.path``, imported
    once so its ``zipimporter`` sits in ``sys.path_importer_cache``."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"mmvs_zmod_a": "VALUE = 'a'\n"})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("mmvs_zmod_a").VALUE == "a"
        assert isinstance(sys.path_importer_cache[archive],
                          zipimport.zipimporter)
        yield archive
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in [m for m in sys.modules if m.startswith("mmvs_zmod_")]:
            del sys.modules[name]


def test_invalidate_caches_reads_no_archive(zip_on_path):
    """``importlib.invalidate_caches()`` only drops the cached directory;
    the next import lookup in the archive reads it once."""
    with _CountReads() as inval:
        importlib.invalidate_caches()
    with _CountReads() as first, pytest.raises(ImportError):
        importlib.import_module("mmvs_zmod_missing")
    with _CountReads() as second, pytest.raises(ImportError):
        importlib.import_module("mmvs_zmod_missing2")
    if EAGER:
        assert inval.calls == 0
        assert first.calls >= 1, "the lookup must re-read the archive"
        assert second.calls == 0, "the re-read must happen once"


def test_rewritten_zip_importable_after_invalidate(zip_on_path):
    """A module added to a zip rewritten in place imports after
    ``importlib.invalidate_caches()``, and the old one still imports."""
    _write_zip(zip_on_path, {"mmvs_zmod_a": "VALUE = 'a2'\n",
                             "mmvs_zmod_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    del sys.modules["mmvs_zmod_a"]
    with _CountReads() as reads:
        assert importlib.import_module("mmvs_zmod_b").VALUE == "b"
        assert importlib.import_module("mmvs_zmod_a").VALUE == "a2"
    if EAGER:
        assert reads.calls == 1


def test_deleted_zip_raises_import_error(zip_on_path):
    """An importer whose archive was deleted reads as an empty archive:
    an import from it raises ``ImportError``, nothing else."""
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[zip_on_path]
    assert importer.find_spec("mmvs_zmod_c") is None
    with pytest.raises(ImportError):
        importlib.import_module("mmvs_zmod_c")


def test_worker_invalidate_caches_reads_no_archive(spark, tmp_path):
    """In a Python worker, an engine ``mapInPandas`` task imports the
    engine and a module from a zip of its own, then counts the archive
    reads of ``importlib.invalidate_caches()`` — the call PySpark's
    worker makes before every task. It also reports how many
    ``zipimporter`` entries the worker's path holds (PySpark's own zip,
    where it runs from one)."""
    import pandas as pd

    archive = str(tmp_path / "worker_mods.zip")
    _write_zip(archive, {"mmvs_zmod_w": "VALUE = 'w'\n"})

    def task(batches):
        import importlib
        import sys
        import zipimport

        import multi_model_vectorsearch_spark  # noqa: F401

        for _ in batches:
            pass
        sys.path.insert(0, archive)
        try:
            importlib.import_module("mmvs_zmod_w")
            zips = sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
            calls = [0]
            orig = zipimport._read_directory

            def counted(a):
                calls[0] += 1
                return orig(a)

            zipimport._read_directory = counted
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = orig
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop("mmvs_zmod_w", None)
        yield pd.DataFrame({"reads": [calls[0]], "zips": [zips]})

    row = spark.range(1).mapInPandas(task, "reads long, zips long").first()
    assert row.zips >= 1
    if EAGER:
        assert row.reads == 0
