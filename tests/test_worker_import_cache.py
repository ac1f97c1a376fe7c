"""PySpark's worker calls ``importlib.invalidate_caches()`` before every task.
Before Python 3.13 that re-reads the directory of every zip archive on the
worker's path; importing ``pdfextract_spark`` makes the call skip archives
that have not changed on disk since the importer last read them."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import pdfextract_spark  # noqa: F401  (installs the guard)
from pdfextract_spark.operators.extract import extract_batch

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13's zipimporter.invalidate_caches no longer re-reads the archive",
)


def _write_archive(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path with one imported module; yields (path, reads),
    where reads lists every directory read of that archive."""
    path = str(tmp_path / "mods.zip")
    _write_archive(path, ["zmod_a"])
    monkeypatch.syspath_prepend(path)
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive_path):
        if archive_path == path:
            reads.append(archive_path)
        return read_directory(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    assert importlib.import_module("zmod_a").NAME == "zmod_a"
    yield path, reads
    for name in ("zmod_a", "zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    _, reads = archive
    importlib.invalidate_caches()
    before = len(reads)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == before


def test_rewritten_archive_is_reread_once(archive, tmp_path):
    path, reads = archive
    importlib.invalidate_caches()
    _write_archive(path, ["zmod_a", "zmod_b"])
    before = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == before + 1
    assert importlib.import_module("zmod_b").NAME == "zmod_b"
    importlib.invalidate_caches()
    assert len(reads) == before + 1
    # a removed archive is handed to the original method, which empties it
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()
    assert len(reads) == before + 2
    assert sys.path_importer_cache[path]._files == {}


def test_workers_run_the_guarded_method(spark):
    from pdfextract_spark.corpus import generate

    # nested, so cloudpickle ships it by value; unpickling it imports
    # pdfextract_spark through extract_batch, as every extraction task does
    def _report(batches):
        """Per task: the worker's pid, whether its zipimporter method is the
        guarded one, and how many archive directories it read since its last
        task ran this function (that is, in this task's setup)."""
        import os
        import zipimport

        counter = zipimport._read_directory
        if not hasattr(counter, "reads"):
            read_directory = counter

            def counter(archive_path):
                counter.reads += 1
                return read_directory(archive_path)

            counter.reads = 0
            counter.tasks = 0
            zipimport._read_directory = counter
        for pdf in batches:
            extract_batch(pdf)
        guarded = getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False)
        yield pd.DataFrame({
            "pid": [os.getpid()], "guarded": [guarded],
            "tasks_before": [counter.tasks], "setup_reads": [counter.reads],
        })
        counter.tasks += 1
        counter.reads = 0

    rows = [
        (doc_id, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
        for doc_id, spans in generate(8, seed=3)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    ).repartition(8)
    schema = "pid long, guarded boolean, tasks_before long, setup_reads long"
    docs.mapInPandas(_report, schema=schema).collect()
    second = docs.mapInPandas(_report, schema=schema).collect()
    assert len(second) == 8
    assert all(r["guarded"] for r in second), second
    # a worker's first guarded call reads each archive once; from then on
    # its per-task setup reads nothing
    settled = [r for r in second if r["tasks_before"] >= 2]
    assert settled, second
    assert all(r["setup_reads"] == 0 for r in settled), second
