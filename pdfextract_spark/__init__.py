"""pdfextract_spark — a PySpark-native layout-aware extraction engine.

A from-scratch reimplementation of the capabilities of oyvindberg/PDFExtract
(reference surveyed in SURVEY.md) expressed Spark-first:

- input: a table of interleaved text+media documents
  ``(doc_id: string, spans: array<struct<kind, text, media_ref, offset>>)``
- output: per-document ordered span sequences ``(doc_id, seq, kind, text,
  media_ref, offset)`` under span-sequence equality
- all per-document computation runs as vectorized pandas/Arrow UDFs over
  DataFrames (narrow ``mapInPandas`` for extraction); cross-row relational
  shape uses the native Column API so Catalyst optimizes it.

Subpackages
-----------
oracle/     single-threaded, float32-faithful Python reference implementation
            of the reference's operator semantics (the correctness oracle)
engine/     the columnar per-document pipeline the extraction UDFs run
operators/  Spark-side operators: narrow and page-parallel extraction,
            dehyphenation, .pxml/TEI serialization
functions/  training-data operators (dedup, similarity, text, packing)
sources/    readers + partitioning/salting for the document table
streaming/  structured-streaming wrappers (the reference is batch-only)

``pipeline.py`` holds ``run_extraction``, the bucket-grain checkpoint/resume loop.
"""

import os
import sys


def _guard_zipimport_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task. Before Python 3.13 that makes each ``zipimporter`` re-read its whole
    archive directory at once (pyspark.zip, the spark-core jar, py4j and any
    ``--py-files`` zip): about 0.2 CPU-seconds per task with Spark 4.1 on a
    4-vCPU host. The guarded method re-reads only when the archive's
    ``(st_mtime_ns, st_size)`` differs from what this importer last read, or
    when ``stat`` fails, so a changed or removed archive is handled as before.
    Every executor that unpickles one of this package's UDFs imports this
    module, so the guard is in place from the worker's second task on."""
    if sys.version_info >= (3, 13):
        return  # 3.13's invalidate_caches defers the re-read itself
    import zipimport

    reread = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if reread is None or getattr(reread, "stat_guarded", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zipimport_invalidation()

__version__ = "0.1.0"
