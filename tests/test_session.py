"""Process-wide hardening in `session.py`: the gated zip-importer cache
invalidation (driver and Python workers) and the checkpoint-manager pin."""

import importlib
import logging
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from parquet_playground_rs_spark import session

_CKPT_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        for name in modules:
            z.writestr(f"zpkg/{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A package `zpkg` imported from a temp zip; yields (archive, reads),
    where reads counts `zipimport._read_directory` calls from here on."""
    archive = str(tmp_path / "zpkg.zip")
    _write_zip(archive, ["a"])
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("zpkg.a")
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or real(a))
    yield archive, reads
    for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
        del sys.modules[name]
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_pkg, monkeypatch):
    archive, reads = zip_pkg
    assert zipimport.zipimporter.invalidate_caches is session._invalidate_changed_zip
    importlib.invalidate_caches()  # first call after the importer exists: stamps it
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    # CPython's own method re-reads every zip archive on every call
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", session._zip_reread)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) >= 2


def test_rewritten_archive_is_reread(zip_pkg):
    archive, reads = zip_pkg
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(archive, ["a", "b"])
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("zpkg.b").NAME == "b"
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_python_workers_get_the_gate(spark):
    """Each Python worker that imports the engine package has the gated
    method, and a task-start `importlib.invalidate_caches()` there reads
    no zip directory. Counts, not timings."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        from parquet_playground_rs_spark import session as s

        for _ in batches:
            pass
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pa.RecordBatch.from_pydict({
            "gated": [zipimport.zipimporter.invalidate_caches
                      is s._invalidate_changed_zip],
            "reads": [len(reads)],
            "zip_importers": [sum(isinstance(f, zipimport.zipimporter)
                                  for f in sys.path_importer_cache.values())],
        })

    rows = (spark.range(0, 4, 1, 4)
            .mapInArrow(probe, "gated boolean, reads long, zip_importers long")
            .collect())
    assert len(rows) == 4
    assert all(r.gated for r in rows)
    assert [r.reads for r in rows] == [0, 0, 0, 0]
    # the workers do import through zip archives, so the gate had work to skip
    assert all(r.zip_importers > 0 for r in rows)


def test_checkpoint_manager_pinned_only_when_it_loads(spark, caplog):
    pinned = spark.conf.get(_CKPT_KEY, None)
    assert pinned and pinned.endswith(".FileSystemBasedCheckpointFileManager")
    spark.conf.unset(_CKPT_KEY)
    try:
        missing = "org.example.NoSuchCheckpointFileManager"
        with caplog.at_level(logging.WARNING, logger=session.__name__):
            assert not session.pin_checkpoint_manager(spark, missing)
        assert spark.conf.get(_CKPT_KEY, None) is None
        assert missing in caplog.text
        assert session.pin_checkpoint_manager(spark, pinned)
        assert spark.conf.get(_CKPT_KEY) == pinned
    finally:
        spark.conf.set(_CKPT_KEY, pinned)
