"""Page-parallel extraction for oversized documents.

The narrow path (operators/extract.py) processes one document per task; a
10k-page document therefore stalls its task no matter how the corpus is
partitioned — the last skew band size-banding alone cannot fix (SURVEY.md §7
known-hard #4). This operator runs the engine's three steps
(engine/vectorized.py) as three stages, with the pages shuffled in between:

  stage A (per doc, cheap):  prepare_document (tokenize + scan filters;
                             S6-S10 are doc-local) -> one row per
                             (doc_id, page) whose payload is the page's
                             glyph table and media boxes
  stage B (per PAGE):        _analyze_one_page (word segmentation + full
                             geometric analysis) -> one row per page whose
                             payload is its word table, lines, paragraphs,
                             regions, blocks, captions and media
                             [the expensive 70-80%]; a row IS a complete
                             page group, so this is mapInPandas — no groupBy
  stage C (per doc, cheap):  rebuild the per-page structures and run
                             finish_document (L1-L6 + ordered assembly)

Pages are independent through stage B (proved in SURVEY.md §3 — the only
doc-level couplings are the scan filters, kept in stage A, and the logical
ops, kept in stage C), so one huge document fans out across the cluster and
re-converges as a single small group of page rows. It plans up to three
exchanges (the input documents' round-robin fan-out, the pages' round-robin
and the `doc_id` hash for stage C), so it is the OVERSIZED band's path —
pipeline.run_extraction routes normal documents through the narrow operator.

Both shuffles carry `doc_id, page, payload` (PAGE_SCHEMA). The payload is an
Arrow IPC stream of ONE one-row record batch: each column is a list holding
one column of one of the page's tables, so tables of different lengths
(glyphs and media boxes; words, lines, paragraphs, ...) share the batch.
Shuffle rows are pages, not chars: the per-char-row formulation was measured
1.3x SLOWER than whole-doc routing, because Arrow and two shuffles on 10^6
13-field rows per monster doc swamped the analysis win. The payload is
opaque to the JVM: when the pages crossed as 16 typed columns, 8 of them
arrays (143k glyphs in 169 rows for a 5,000-span document), the JVM touched
every element in the Arrow<->row conversion, the round-robin sort and both
shuffles, and the document's single-task stage A and stage C took about
twice their Python time. Stages B and C decode the payload column-wise
(numpy views of the IPC buffers); stage B ships each page's word table flat
in final line order, so stage C only slices it.

Output is row-for-row identical to extract_spans (tests/test_extract_paged.py
asserts equality): float32 geometry travels as raw IPC buffers, and the
derived fields (ex = x + w) are recomputed with the same float32 adds the
narrow path uses. A document that fails in stage A is quarantined as one
page -1 row whose payload has the error text as its `error` column; stage B
passes it through and stage C emits it as the doc's one error row.
"""

from __future__ import annotations

from typing import Dict, Iterator, List, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from ..config import CONFIG, EngineConfig
from ..engine.vectorized import (
    _NO_CHARS,
    Paragraph,
    _analyze_one_page,
    _Glyphs,
    _style_tables,
    _word_table,
    error_spans,
    error_text,
    finish_document,
    prepare_document,
    spans_frame,
)
from ..layout import MediaBox, doc_styles
from ..operators.extract import OUTPUT_SCHEMA, OUTPUT_SCHEMA_WORDS, _spans_to_lists

# the schema of both shuffles: one row per (doc, page), the page opaque to
# the JVM (see the module docstring); page -1 is a quarantined document
PAGE_SCHEMA = "doc_id string, page int, payload binary"


def _pack_rows(cols: Dict[str, Tuple[object, np.ndarray]]) -> List[bytes]:
    """Payloads of several pages at once: column -> (values, row offsets),
    where values are a numpy array (its buffer is copied as is, so float32
    bits survive) or a list of str. Builds one batch of list columns and
    writes each row as its own IPC stream; the writer copies only the
    values a row slice references. One batch per document instead of one
    per page: Arrow's per-array construction cost dominated the encode."""
    arrays = []
    for v, offsets in cols.values():
        values = pa.array(v, pa.string()) if isinstance(v, list) else pa.array(v)
        arrays.append(pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values))
    batch = pa.RecordBatch.from_arrays(arrays, names=list(cols))
    payloads = []
    for i in range(batch.num_rows):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, batch.schema) as writer:
            writer.write_batch(batch.slice(i, 1))
        payloads.append(sink.getvalue().to_pybytes())
    return payloads


def _pack(cols: Dict[str, object]) -> bytes:
    """One page's payload: column -> values, as for _pack_rows."""
    return _pack_rows({k: (v, [0, len(v)]) for k, v in cols.items()})[0]


def _unpack(payload: bytes) -> Dict[str, object]:
    """Inverse of _pack: read-only numpy views of the numeric columns, lists
    of str for the string ones."""
    batch = pa.ipc.open_stream(payload).read_next_batch()
    cols: Dict[str, object] = {}
    for name, col in zip(batch.schema.names, batch.columns):
        values = col.flatten()
        cols[name] = (values.to_pylist() if pa.types.is_string(values.type)
                      else values.to_numpy())
    return cols


def _stage_a(batches: Iterator[pd.DataFrame], cfg: EngineConfig) -> Iterator[pd.DataFrame]:
    """Per doc: tokenize + doc-local scan filters -> one payload row per
    page, one frame per document (see extract_spans_paged for the bound).
    A failing doc is quarantined as one page -1 row; stages B and C pass it
    through as the doc's one error row."""
    for pdf in batches:
        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            try:
                pages, payloads = _pack_pages(doc_id, spans, cfg)
            except Exception as exc:  # quarantine, never fail the task
                pages = [-1]
                payloads = [_pack({"error": [error_text(exc)]})]
            yield pd.DataFrame({
                "doc_id": [doc_id] * len(pages),
                "page": np.asarray(pages, dtype=np.int32),
                "payload": payloads,
            })


def _pack_pages(doc_id: str, spans, cfg: EngineConfig) -> Tuple[List[int], List[bytes]]:
    """The prepared document's pages with glyphs or media, in table order
    within a page and layout order for media, as the engine's page loop
    sees them."""
    doc = prepare_document(doc_id, *_spans_to_lists(spans), cfg)
    table, slices, media_by_page = doc.table, doc.slices, doc.media_by_page
    pages = sorted(set(slices) | set(media_by_page))
    if not pages:
        return [], []
    # the doc's glyphs and media boxes grouped by page, in `pages` order
    per_page = [slices.get(p, _NO_CHARS) for p in pages]
    idx = np.concatenate(per_page)
    g_off = np.cumsum([0] + [len(i) for i in per_page])
    ms = [m for p in pages for m in media_by_page.get(p, [])]
    m_off = np.cumsum([0] + [len(media_by_page.get(p, [])) for p in pages])
    chars = np.asarray(table.char, dtype=object)
    glyphs = {
        "x": table.x[idx], "y": table.y[idx],
        "w": table.w[idx], "h": table.h[idx],
        "baseline": table.baseline[idx],
        "style": table.style_idx[idx],
        "char": chars[idx].tolist(),
        "off": table.offset[idx],
    }
    return pages, _pack_rows({
        **{k: (v, g_off) for k, v in glyphs.items()},
        **{k: (v, m_off) for k, v in _media_cols(ms).items()},
    })


def _media_cols(ms: List[MediaBox]) -> Dict[str, object]:
    # float64 holds each box's Python float exactly
    return {
        "mx": np.array([m.x for m in ms], dtype=np.float64),
        "my": np.array([m.y for m in ms], dtype=np.float64),
        "mw": np.array([m.w for m in ms], dtype=np.float64),
        "mh": np.array([m.h for m in ms], dtype=np.float64),
        "mref": [m.media_ref for m in ms],
        "moff": np.array([m.offset for m in ms], dtype=np.int64),
    }


def _media_boxes(page: int, c: Dict[str, object]) -> List[MediaBox]:
    return [
        MediaBox(page, *box)
        for box in zip(c["mx"].tolist(), c["my"].tolist(), c["mw"].tolist(),
                       c["mh"].tolist(), c["mref"], c["moff"].tolist())
    ]


def _analyze_page(doc_id: str, page: int, payload: bytes, cfg: EngineConfig,
                  mode: str, cache: dict) -> bytes:
    """One page's glyph payload -> its structure payload (geometric
    analysis). `cache` holds each document's style tables for the batch: a
    doc's pages are spread round-robin, and rebuilding the tables per PAGE
    was measured ~40% of the operator's small-doc overhead corpus-wide."""
    c = _unpack(payload)
    tables = cache.get(doc_id)
    if tables is None:
        tables = cache[doc_id] = _style_tables(doc_styles(doc_id))
    g = _Glyphs.of(c["x"], c["y"], c["w"], c["h"], c["baseline"], c["style"],
                   c["char"], c["off"])
    page_media = _media_boxes(page, c)

    t, paragraphs, bounds, blocks, captions = _analyze_one_page(
        g, page_media, *tables, cfg, mode
    )

    # the word table flat in final line order; words in no line (assignment
    # quirks) follow as leftovers: they still count toward the doc-level
    # style histograms
    lines = [line for para in paragraphs for line in para.lines]
    in_line = np.zeros(len(t), dtype=bool)
    order = [i for line in lines for i in line]
    in_line[order] = True
    order = np.array(order + np.nonzero(~in_line)[0].tolist(), dtype=np.int64)
    cap_lines = [(mi, cap) for mi, caps in captions.items() for cap in caps]
    cap_words = [wd for _, cap in cap_lines for wd in cap[3]]
    return _pack({
        "wx": t.x[order], "wy": t.y[order], "ww": t.w[order], "wh": t.h[order],
        "wstyle": t.style[order], "worigin": t.origin[order],
        "wtext": [t.text[i] for i in order.tolist()],
        "line_words": np.array([len(line) for line in lines], dtype=np.int32),
        "para_lines": np.array([len(p.lines) for p in paragraphs], dtype=np.int32),
        "para_region": np.array([p.region for p in paragraphs], dtype=np.int32),
        "para_block": np.array([p.block for p in paragraphs], dtype=np.int32),
        # region and block bounds are Python floats: float64 keeps them exact
        "region": np.array(bounds, dtype=np.float64).reshape(-1),
        "region_blocks": np.array([len(bb) for bb in blocks], dtype=np.int32),
        "block": np.array([y for bb in blocks for yy in bb for y in yy],
                          dtype=np.float64),
        # caption lines (text, origin, dominating style, raw words) per media
        # index; their words carry the float32 geometry by value
        "cap_media": np.array([mi for mi, _ in cap_lines], dtype=np.int32),
        "cap_text": [cap[0] for _, cap in cap_lines],
        "cap_origin": np.array([cap[1] for _, cap in cap_lines], dtype=np.int64),
        "cap_style": np.array([cap[2] for _, cap in cap_lines], dtype=np.int32),
        "cap_words": np.array([len(cap[3]) for _, cap in cap_lines], dtype=np.int32),
        "cw_text": [wd[0] for wd in cap_words],
        "cw_style": np.array([wd[1] for wd in cap_words], dtype=np.int32),
        "cw_box": np.array([wd[2:] for wd in cap_words], dtype=np.float32).reshape(-1),
        **_media_cols(page_media),
    })


def _stage_b(batches: Iterator[pd.DataFrame], cfg: EngineConfig, mode: str) -> Iterator[pd.DataFrame]:
    """mapInPandas over page rows — each row is a full page group. Per-doc
    style LUTs cached across the partition; one output frame (one Arrow
    batch) per input batch, not per page. Quarantine rows (page -1) pass
    through unchanged."""
    cache: dict = {}
    for pdf in batches:
        yield pdf.assign(payload=[
            payload if page < 0
            else _analyze_page(doc_id, page, payload, cfg, mode, cache)
            for doc_id, page, payload in zip(
                pdf["doc_id"], pdf["page"].tolist(), pdf["payload"])
        ])


def _splits(counts: np.ndarray) -> List[Tuple[int, int]]:
    """Consecutive [start, end) ranges of the given lengths."""
    ends = np.cumsum(counts, dtype=np.int64).tolist()
    return list(zip([0] + ends[:-1], ends))


def _page_structures(page: int, payload: bytes):
    """One page's structure payload -> (word table, paragraphs, region
    bounds, block bounds, captions, media) as _analyze_one_page and the
    layout gave them."""
    c = _unpack(payload)
    t = _word_table(c["wx"], c["wy"], c["ww"], c["wh"], c["wstyle"],
                    c["wtext"], c["worigin"])
    lines = [list(range(a, b)) for a, b in _splits(c["line_words"])]
    paras = [
        Paragraph(lines[a:b], region=region, block=block)
        for (a, b), region, block in zip(
            _splits(c["para_lines"]), c["para_region"].tolist(),
            c["para_block"].tolist())
    ]
    regions = [tuple(r) for r in c["region"].reshape(-1, 4).tolist()]
    block = [tuple(yy) for yy in c["block"].reshape(-1, 2).tolist()]
    blocks = [block[a:b] for a, b in _splits(c["region_blocks"])]
    cw_text, cw_style = c["cw_text"], c["cw_style"].tolist()
    cw_box = c["cw_box"].reshape(-1, 4).tolist()
    captions: Dict[int, List[tuple]] = {}
    for mi, text, origin, style, (a, b) in zip(
        c["cap_media"].tolist(), c["cap_text"], c["cap_origin"].tolist(),
        c["cap_style"].tolist(), _splits(c["cap_words"]),
    ):
        raw = tuple((cw_text[i], cw_style[i], *cw_box[i]) for i in range(a, b))
        captions.setdefault(mi, []).append((text, origin, style, raw))
    return t, paras, regions, blocks, captions, _media_boxes(page, c)


def _stage_c(
    key, pdf: pd.DataFrame, cfg: EngineConfig, with_words: bool = False
) -> pd.DataFrame:
    """Per doc: rebuild per-page structures, run the doc-level tail."""
    doc_id = key[0]
    by_page = dict(zip(pdf["page"].tolist(), pdf["payload"]))
    if -1 in by_page:
        out = error_spans(_unpack(by_page[-1])["error"][0])
    else:
        per_page, media_by_page = [], {}
        for p in range(max(by_page) + 1):
            if p in by_page:
                *page, media_by_page[p] = _page_structures(p, by_page[p])
            else:  # a page with neither glyphs nor media
                page = (_word_table([], [], [], [], [], [], []), [], [], [], {})
            per_page.append(page)
        out = finish_document(per_page, media_by_page, doc_styles(doc_id), cfg,
                              with_words)
    return spans_frame([(doc_id, out)], with_words)


def extract_spans_paged(
    documents_df: DataFrame,
    cfg: EngineConfig = CONFIG,
    mode: str = "tuned",
    page_partitions: int = 0,
    doc_partitions: int = 0,
    with_words: bool = False,
) -> DataFrame:
    """Page-parallel extraction: identical output to extract_spans, with the
    per-page geometric analysis distributed over (doc_id, page).

    doc_partitions > 0 round-robins the INPUT docs first: the oversized band
    usually arrives as one scan split (it is a filter of a bucket's parquet),
    which would serialize every monster's stage A — the per-doc floor, ~half
    the monster's cost — into one task. With the fan-out, stage A costs
    max-over-docs instead of sum-over-docs. (Stage A itself is the residual
    skew bound: tokenize + doc-local scan filters are O(doc) in one task by
    construction; span-range splitting of stage A is the next band if single
    documents ever outgrow that.)

    Size bound: stage A emits one Arrow batch per document, and Arrow
    `binary` has int32 offsets, so one document's page payloads must total
    under 2 GiB (stage C likewise receives one document's structure payloads
    together)."""
    if doc_partitions > 0:
        documents_df = documents_df.repartition(doc_partitions)
    pages = documents_df.mapInPandas(
        lambda it: _stage_a(it, cfg), schema=PAGE_SCHEMA
    )
    if page_partitions > 0:
        # round-robin: page rows are near-uniform work units, so an even
        # count balance beats hashing (which can co-locate a doc's pages)
        pages = pages.repartition(page_partitions)
    structure = pages.mapInPandas(
        lambda it: _stage_b(it, cfg, mode), schema=PAGE_SCHEMA
    )
    if page_partitions > 0:
        # structure rows are byte-small, so AQE coalesces the groupBy
        # exchange to a handful of tasks — which serializes the PER-DOC
        # PYTHON of stage C (measured 14.4s of a 22s run at 6 tasks). An
        # explicit hash repartition on the SAME key is AQE-exempt and
        # satisfies the groupBy's required distribution, so no second
        # exchange is added.
        structure = structure.repartition(page_partitions, "doc_id")
    schema = OUTPUT_SCHEMA_WORDS if with_words else OUTPUT_SCHEMA
    return structure.groupBy("doc_id").applyInPandas(
        lambda key, pdf: _stage_c(key, pdf, cfg, with_words), schema=schema
    )
