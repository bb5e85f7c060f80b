"""The map stages' zip-directory patch
(`sparktika.pipeline.arrowmap._reread_zips_only_when_changed`).

PySpark's worker calls `importlib.invalidate_caches()` before every task;
below Python 3.13 that re-reads the whole directory of every zip archive
an importer sits on. The patch keeps CPython's behaviour for a changed,
new or vanished archive and skips the re-read of an unchanged one."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from sparktika.pipeline import arrowmap as am

below_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter re-reads lazily from Python 3.13")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A temp zip holding one module, first on sys.path, already imported.
    Restores zipimporter.invalidate_caches and drops the test modules."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zr_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zr_mod_a").VALUE == "a"
    yield archive
    for name in ("zr_mod_a", "zr_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture
def reads(monkeypatch):
    """Archives passed to zipimport._read_directory, in call order."""
    calls: list[str] = []
    original = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@below_313
def test_unchanged_archive_is_not_reread(zip_on_path, reads):
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1  # CPython: one re-read per call

    am._reread_zips_only_when_changed()
    importlib.invalidate_caches()  # first call records the stamp
    before = reads.count(zip_on_path)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(zip_on_path) == before


@below_313
def test_rewritten_archive_is_reread(zip_on_path, reads):
    am._reread_zips_only_when_changed()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zr_mod_b")

    _write_zip(zip_on_path, {"zr_mod_a": "VALUE = 'a'\n",
                             "zr_mod_b": "VALUE = 'b'\n"})
    before = reads.count(zip_on_path)
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == before + 1
    assert importlib.import_module("zr_mod_b").VALUE == "b"


@below_313
def test_vanished_archive_empties_the_importer(zip_on_path):
    am._reread_zips_only_when_changed()
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[zip_on_path]
    assert importer._files

    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert importer._files == {}  # CPython's behaviour for a missing archive
    assert zip_on_path not in zipimport._zip_directory_cache


def test_patch_is_idempotent(zip_on_path):
    am._reread_zips_only_when_changed()
    once = zipimport.zipimporter.invalidate_caches
    am._reread_zips_only_when_changed()
    assert zipimport.zipimporter.invalidate_caches is once


def test_patch_is_a_noop_from_python_313(zip_on_path, monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 13, 0, "final", 0))
        am._reread_zips_only_when_changed()
    assert zipimport.zipimporter.invalidate_caches is original


@below_313
def test_extraction_worker_runs_the_patched_invalidate_caches():
    """local[1] reuses one Python worker: a probe task before a map stage
    sees CPython's method, the same worker after it sees the replaced one.
    Checked for page extraction and for a multimodal stage: the probe
    after extraction puts CPython's method back, so `image_stats` must
    patch the worker again."""
    from sparktika.pipeline.extract import extract_pages
    from sparktika.pipeline.multimodal import image_stats
    from sparktika.pipeline.session import build_session
    from sparktika.synth import build_png

    spark = build_session(master="local[1]", shuffle_partitions=1)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        pages = spark.createDataFrame(
            [("https://x/a.html", b"<html><title>a</title><p>one</p></html>"),
             ("https://x/b.html", b"<html><title>b</title><p>two</p></html>")],
            "url string, html binary")

        media = spark.createDataFrame([(7, build_png(7))],
                                      "media_id long, payload binary")

        def probe(batches, restore=False):
            import os
            import zipimport

            for _ in batches:
                pass
            method = zipimport.zipimporter.invalidate_caches
            yield pa.RecordBatch.from_pylist([{
                "pid": os.getpid(),
                "replaced": hasattr(method, "reread"),
            }])
            if restore and hasattr(method, "reread"):
                zipimport.zipimporter.invalidate_caches = method.reread

        def run_probe(restore=False):
            return spark.range(1, numPartitions=1).mapInArrow(
                lambda it: probe(it, restore),
                "pid long, replaced boolean").collect()[0]

        before = run_probe()
        statuses = [r.status for r in extract_pages(pages).collect()]
        after = run_probe(restore=True)
        restored = run_probe()
        media_statuses = [r.status for r in image_stats(media).collect()]
        after_media = run_probe()
    finally:
        spark.stop()

    assert statuses == ["ok", "ok"]
    assert media_statuses == ["ok"]
    assert not before.replaced
    assert before.pid == after.pid == restored.pid == after_media.pid
    assert after.replaced
    assert not restored.replaced
    assert after_media.replaced
