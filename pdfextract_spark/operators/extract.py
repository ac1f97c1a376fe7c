"""Distributed extraction operator.

The whole layout-analysis pipeline is document-local (SURVEY.md §3 proves the
reference has zero cross-document dataflow), so the Spark plan is a single
narrow ``mapInPandas`` over the documents table — NO shuffle in the extraction
path. Arrow batches stream documents into the per-doc pipeline; output rows
stream back out. Cross-row relational work (ordering, joins with dims,
writes) stays in the native Column API.

Scale design:
- ``repartition`` (optional) only to balance batch sizes across executors —
  at cluster scale prefer a well-bucketed input table over a runtime shuffle
- skewed oversized docs: the corpus has a ~0.1% band of ~100x docs;
  pipeline.run_extraction routes documents above
  ``cfg.oversize_span_threshold`` spans through the page-parallel operator
  (operators/extract_paged.py) instead of this one, so one huge document
  fans out over (doc_id, page) rather than stalling a task.
- per-doc failures are quarantined, not fatal (TextExtractor.java:124-131
  analog): errors become rows in a quarantine output with kind='error'.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from ..config import CONFIG, EngineConfig
from ..engine.vectorized import (
    error_spans,
    error_text,
    extract_document_fast as extract_document,
    spans_frame,
)

OUTPUT_SCHEMA = (
    "doc_id string, seq int, kind string, text string, media_ref string, offset int, "
    "page int, para int, style_ref string"
)

# VERBOSE word-box payload (SimpleXMLOutput.java VERBOSE_OUTPUT analog):
# opt-in via with_words=True because every mapInPandas output column crosses
# Arrow whether or not downstream prunes it — the flagship span-equality
# path must not pay for a payload only the verbose sink reads.
WORDS_FIELD = (
    "words array<struct<value:string,style_ref:string,x:int,y:int,w:int,h:int>>"
)
OUTPUT_SCHEMA_WORDS = f"{OUTPUT_SCHEMA}, {WORDS_FIELD}"

# the flat span-equality surface (driver contract; structural columns are a
# round-3 superset carried for the nested sinks)
FLAT_COLS = ["doc_id", "seq", "kind", "text", "media_ref", "offset"]


def _spans_to_lists(spans) -> tuple:
    kinds, texts, refs, offs = [], [], [], []
    for s in spans:
        kinds.append(s["kind"])
        texts.append(s["text"] if s["text"] is not None else "")
        refs.append(s["media_ref"] if s["media_ref"] is not None else "")
        offs.append(int(s["offset"]))
    return kinds, texts, refs, offs


def extract_batch(
    pdf: pd.DataFrame, cfg: EngineConfig = CONFIG, with_words: bool = False
) -> pd.DataFrame:
    """Extract every document in one Arrow batch (driver for the per-doc
    pipeline; used by both the Spark operator and local tooling)."""
    results = []
    for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
        try:
            out = extract_document(
                doc_id, *_spans_to_lists(spans), cfg, emit_words=with_words
            )
        except Exception as exc:  # quarantine, never fail the task
            out = error_spans(error_text(exc))
        results.append((doc_id, out))
    return spans_frame(results, with_words)


def extract_spans(
    documents_df,
    cfg: EngineConfig = CONFIG,
    num_partitions: int = 0,
    with_words: bool = False,
):
    """documents (doc_id, spans) -> extracted spans (narrow, no shuffle
    unless num_partitions > 0 requests a balancing repartition).
    with_words adds the VERBOSE per-word box column (see WORDS_FIELD)."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield extract_batch(pdf, cfg, with_words=with_words)

    df = documents_df
    if num_partitions > 0:
        df = df.repartition(num_partitions)
    elif num_partitions == 0:
        # auto fan-out: a small corpus arrives as one file = one partition,
        # which would serialize the whole per-doc pipeline onto one core. At
        # real scale the scan already has >= cores splits and this is a no-op
        # (we never reduce partitioning). Pass num_partitions=-1 to opt out.
        target = df.sparkSession.sparkContext.defaultParallelism
        # bin-packing-aware split estimate (file count alone overestimates:
        # many small files scan as few tasks) — see scanutil.py
        from ..scanutil import estimate_scan_splits

        n_splits = estimate_scan_splits(df)
        if n_splits < target:
            df = df.repartition(target)
    schema = OUTPUT_SCHEMA_WORDS if with_words else OUTPUT_SCHEMA
    return df.mapInPandas(process, schema=schema)
