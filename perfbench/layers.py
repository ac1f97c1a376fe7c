"""Per-layer probes for the traced run.

Each probe calls one module's entry point from the benchmark and records a
span around the call. The engine layers (layout, scan filters, per-page
analysis, document tail) are replayed in-process on the oracle sample, in the
order ``engine.vectorized.extract_document_fast`` calls them; the replay's
spans must equal the oracle's, so the timings describe the code that runs.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Dict, List, Sequence, Set, Tuple

import numpy as np

from pdfextract_spark.config import CONFIG
from pdfextract_spark.engine.vectorized import (
    _analyze_one_page,
    _finalize_document,
    _page_glyphs,
    _style_luts,
)
from pdfextract_spark.layout import layout_document
from pdfextract_spark.oracle.scanfilters import apply_scan_filters

from tracing import Tracer


def replay_engine(tracer: Tracer, docs: Sequence[Tuple[str, List[Dict]]]) -> Tuple[Dict, Dict[str, list]]:
    """Run the per-document engine layer by layer under spans. Returns work
    counts and the spans each document produced."""
    cfg = CONFIG
    counts = {"docs": 0, "glyphs": 0, "glyphs_kept": 0, "pages": 0, "words": 0}
    produced: Dict[str, list] = {}
    for doc_id, spans in docs:
        order = np.argsort(np.asarray([s["offset"] for s in spans], dtype=np.int64), kind="stable")
        kinds = [spans[i]["kind"] for i in order]
        texts = [spans[i]["text"] or "" for i in order]
        refs = [spans[i]["media_ref"] or "" for i in order]
        offs = [int(spans[i]["offset"]) for i in order]
        with tracer.span("engine.document", doc_id=doc_id):
            with tracer.span("layout"):
                table, media, styles = layout_document(doc_id, kinds, texts, refs, offs, cfg)
            with tracer.span("scanfilters"):
                kept = apply_scan_filters(table, styles, cfg)
            cmp_lut, break_lut = _style_luts(styles)
            style_xsize = np.array([s.x_size for s in styles], dtype=np.int64)
            style_ysize = np.array([s.y_size for s in styles], dtype=np.int64)
            n_pages = int(kept.page.max()) + 1 if len(kept) else 0
            n_pages = max(n_pages, max((m.page for m in media), default=-1) + 1)
            media_by_page: Dict[int, list] = {}
            for m in media:
                media_by_page.setdefault(m.page, []).append(m)
            per_page = []
            for p in range(n_pages):
                with tracer.span("engine.page", page=p):
                    per_page.append(_analyze_one_page(
                        _page_glyphs(kept, kept.page == p), media_by_page.get(p, []),
                        cmp_lut, break_lut, style_xsize, style_ysize, cfg, "tuned",
                    ))
            tables, pages, regions, blocks, captions = (list(c) for c in zip(*per_page)) if per_page else ([],) * 5
            with tracer.span("engine.finalize"):
                out = _finalize_document(
                    tables, pages, regions, blocks, captions,
                    media_by_page, n_pages, styles, cfg,
                )
        counts["docs"] += 1
        counts["glyphs"] += len(table)
        counts["glyphs_kept"] += len(kept)
        counts["pages"] += n_pages
        counts["words"] += sum(len(t) for t in tables)
        produced[doc_id] = [(o.kind, o.text, o.media_ref, o.offset) for o in out]
    return counts, produced


@contextmanager
def spark_jobs(sc, group: str):
    """Counts the Spark jobs and stages started inside the block. run_extraction
    submits its bucket jobs from pool threads, which do not inherit the job
    group, so jobs without a group that appear during the block count too;
    the benchmark runs one call at a time, so nothing else adds jobs."""
    # the status tracker is fed asynchronously by the listener bus; draining
    # the bus before each read makes the counts exact
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty(30_000)
    before: Set[int] = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    counts = {"jobs": 0, "stages": 0}
    try:
        yield counts
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty(30_000)
    jobs = set(tracker.getJobIdsForGroup(group)) | (set(tracker.getJobIdsForGroup(None)) - before)
    counts["jobs"] = len(jobs)
    counts["stages"] = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)


def timed_noop(tracer: Tracer, name: str, df) -> float:
    """Wall of computing every row of df into Spark's no-op sink."""
    t0 = time.perf_counter()
    with tracer.span(name):
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0
