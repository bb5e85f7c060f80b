"""The warm-worker zip-directory patch
(`sparktika.zipreread.reread_zips_only_when_changed`).

PySpark's worker calls `importlib.invalidate_caches()` before every task;
below Python 3.13 that re-reads the whole directory of every zip archive
an importer sits on. The patch keeps CPython's behaviour for a changed,
new or vanished archive and skips the re-read of an unchanged one.
Importing sparktika installs it; the map stages re-check it per task."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from sparktika import zipreread as zr

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
    Runs with CPython's zipimporter.invalidate_caches (importing sparktika
    replaced it), restores the method and drops the test modules."""
    method = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        getattr(method, "reread", method))
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

    zr.reread_zips_only_when_changed()
    importlib.invalidate_caches()  # first call records the stamp
    before = reads.count(zip_on_path)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(zip_on_path) == before


@below_313
def test_rewritten_archive_is_reread(zip_on_path, reads):
    zr.reread_zips_only_when_changed()
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
    zr.reread_zips_only_when_changed()
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[zip_on_path]
    assert importer._files

    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert importer._files == {}  # CPython's behaviour for a missing archive
    assert zip_on_path not in zipimport._zip_directory_cache


def test_patch_is_idempotent(zip_on_path):
    zr.reread_zips_only_when_changed()
    once = zipimport.zipimporter.invalidate_caches
    zr.reread_zips_only_when_changed()
    assert zipimport.zipimporter.invalidate_caches is once


def test_patch_is_a_noop_from_python_313(zip_on_path, monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 13, 0, "final", 0))
        zr.reread_zips_only_when_changed()
    assert zipimport.zipimporter.invalidate_caches is original


def _probe(spark, restore=False):
    """(pid, replaced) of the one reused Python worker of a local[1]
    session; with `restore`, put CPython's method back after looking."""

    def probe(batches):
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

    return spark.range(1, numPartitions=1).mapInArrow(
        probe, "pid long, replaced boolean").collect()[0]


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

        before = _probe(spark)
        statuses = [r.status for r in extract_pages(pages).collect()]
        after = _probe(spark, restore=True)
        restored = _probe(spark)
        media_statuses = [r.status for r in image_stats(media).collect()]
        after_media = _probe(spark)
    finally:
        spark.stop()

    assert statuses == ["ok", "ok"]
    assert media_statuses == ["ok"]
    assert not before.replaced
    assert before.pid == after.pid == restored.pid == after_media.pid
    assert after.replaced
    assert not restored.replaced
    assert after_media.replaced


@below_313
def test_scalar_udf_worker_is_patched():
    """A worker that runs only a scalar UDF (`dedup.simhash_keys`, an Arrow
    row UDF; no mapInArrow stage) is patched too: running the UDF imports
    sparktika, whose import installs the patch. Same reused local[1]
    worker before and after."""
    from sparktika.kernels.textstats import simhash64
    from sparktika.pipeline.dedup import simhash_keys
    from sparktika.pipeline.session import build_session

    spark = build_session(master="local[1]", shuffle_partitions=1)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        docs = spark.createDataFrame([(1, "one two three")],
                                     "doc_id long, text string")
        before = _probe(spark)
        keys = simhash_keys(docs).collect()
        after = _probe(spark)
    finally:
        spark.stop()

    assert [(r.key, r.simhash) for r in keys] == [
        (1, simhash64("one two three") - (1 << 63))]
    assert not before.replaced
    assert before.pid == after.pid
    assert after.replaced
