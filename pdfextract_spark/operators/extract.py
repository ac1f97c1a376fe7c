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

from typing import Iterator, List

import numpy as np
import pandas as pd

from ..config import CONFIG, EngineConfig
from ..engine import extract_document_fast as extract_document

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

_OUT_COLS = [
    "doc_id", "seq", "kind", "text", "media_ref", "offset",
    "page", "para", "style_ref",
]

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


def error_row(doc_id: str, text: str) -> dict:
    """The one output row of a quarantined document (both operators)."""
    return {"doc_id": doc_id, "seq": -1, "kind": "error", "text": text,
            "media_ref": "", "offset": -1, "page": -1, "para": -1,
            "style_ref": ""}


def words_as_rows(words: tuple) -> list:
    """OutSpan.words tuple -> Arrow-friendly list of struct dicts."""
    return [
        {"value": v, "style_ref": r, "x": x, "y": y, "w": w, "h": h}
        for (v, r, x, y, w, h) in words
    ]


def extract_batch(
    pdf: pd.DataFrame, cfg: EngineConfig = CONFIG, with_words: bool = False
) -> pd.DataFrame:
    """Extract every document in one Arrow batch (driver for the per-doc
    pipeline; used by both the Spark operator and local tooling)."""
    out = {c: [] for c in _OUT_COLS}
    words_col: List[list] = []
    for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
        try:
            kinds, texts, refs, offs = _spans_to_lists(spans)
            result = extract_document(
                doc_id, kinds, texts, refs, offs, cfg, emit_words=with_words
            )
        except Exception as exc:  # quarantine, never fail the task
            row = error_row(doc_id, f"{type(exc).__name__}: {exc}")
            for c in _OUT_COLS:
                out[c].append(row[c])
            words_col.append([])
            continue
        for sp in result:
            out["doc_id"].append(doc_id)
            out["seq"].append(sp.seq)
            out["kind"].append(sp.kind)
            out["text"].append(sp.text)
            out["media_ref"].append(sp.media_ref)
            out["offset"].append(sp.offset)
            out["page"].append(sp.page)
            out["para"].append(sp.para)
            out["style_ref"].append(sp.style_ref)
            if with_words:
                words_col.append(words_as_rows(sp.words))
    data = {
        "doc_id": pd.Series(out["doc_id"], dtype="object"),
        "seq": pd.Series(out["seq"], dtype="int32"),
        "kind": pd.Series(out["kind"], dtype="object"),
        "text": pd.Series(out["text"], dtype="object"),
        "media_ref": pd.Series(out["media_ref"], dtype="object"),
        "offset": pd.Series(out["offset"], dtype="int32"),
        "page": pd.Series(out["page"], dtype="int32"),
        "para": pd.Series(out["para"], dtype="int32"),
        "style_ref": pd.Series(out["style_ref"], dtype="object"),
    }
    if with_words:
        data["words"] = pd.Series(words_col, dtype="object")
    return pd.DataFrame(data)


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
