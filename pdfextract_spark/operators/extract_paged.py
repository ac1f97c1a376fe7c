"""Page-parallel extraction for oversized documents.

The narrow path (operators/extract.py) processes one document per task; a
10k-page document therefore stalls its task no matter how the corpus is
partitioned — the last skew band size-banding alone cannot fix (SURVEY.md §7
known-hard #4). This operator splits the per-document pipeline at its two
natural seams, both already factored in engine/vectorized.py:

  stage A (per doc, cheap):  tokenize + scan filters (S6-S10 are doc-local)
                             -> ONE packed row per (doc_id, page): char
                             geometry as float32 arrays, glyph text as a
                             string array, media boxes as parallel arrays
  stage B (per PAGE):        word segmentation + full geometric analysis
                             (_analyze_one_page) -> line/region/block/caption
                             rows keyed doc_id   [the expensive 70-80%];
                             a packed row IS a complete page group, so this
                             is mapInPandas — no groupBy
  stage C (per doc, cheap):  rebuild the per-page structures and run the
                             UNCHANGED doc-level tail (_finalize_document:
                             L1-L6 + ordered assembly)

Pages are independent through stage B (proved in SURVEY.md §3 — the only
doc-level couplings are the scan filters, kept in stage A, and the logical
ops, kept in stage C), so one huge document fans out across the cluster and
re-converges as a single small group of line rows. Shuffle volume is rows =
pages (packed arrays), NOT rows = chars: the per-char-row formulation was
measured 1.3x SLOWER than whole-doc routing on a 2000x-amplified soak
because Arrow + two shuffles on 10^6 13-field rows per monster doc
swamped the analysis win. Costs one round-robin repartition + one groupBy
shuffle, so it is the OVERSIZED band's path — pipeline.run_extraction
routes normal documents through the narrow operator.

Output is row-for-row identical to extract_spans (tests/test_extract_paged.py
asserts equality): float32 geometry survives the shuffle because the word
payload is serialized as float32 arrays and the derived fields (ex = x + w)
are recomputed with the same float32 adds the narrow path uses.
"""

from __future__ import annotations

from typing import Dict, Iterator, List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import CONFIG, EngineConfig
from ..engine.vectorized import (
    Paragraph,
    _analyze_one_page,
    _finalize_document,
    _Glyphs,
    _page_slices,
    _style_luts,
    _WordTable,
)
from ..layout import MediaBox, doc_styles, layout_document
from ..operators.extract import (
    OUTPUT_SCHEMA, OUTPUT_SCHEMA_WORDS, _spans_to_lists, error_row,
)
from ..oracle.scanfilters import apply_scan_filters

# ONE ROW PER (doc, page), char/media fields packed as arrays: shuffle rows
# are pages, not chars (see the module docstring), and since a packed row IS
# a complete page group, stage B is mapInPandas with NO groupBy.
PAGE_CHAR_SCHEMA = (
    "doc_id string, page int, x array<float>, y array<float>, w array<float>, "
    "h array<float>, baseline array<float>, style_idx array<int>, "
    "chars array<string>, off array<int>, "
    "mx array<float>, my array<float>, mw array<float>, mh array<float>, "
    "mref array<string>, moff array<int>"
)

# every packed field null: the base of a quarantined document's page -1 row
_NO_PAGE = dict.fromkeys(f.split()[0] for f in PAGE_CHAR_SCHEMA.split(", "))

PAGE_SCHEMA = (
    "doc_id string, page int, rkind string, a int, b int, c int, "
    "f0 float, f1 float, f2 float, f3 float, text string, origin long, "
    "wx array<float>, wy array<float>, ww array<float>, wh array<float>, "
    "wstyle array<int>, worigin array<long>, wtext array<string>"
)

_EMPTY = {
    "f0": 0.0, "f1": 0.0, "f2": 0.0, "f3": 0.0, "text": "", "origin": 0,
    "wx": None, "wy": None, "ww": None, "wh": None,
    "wstyle": None, "worigin": None, "wtext": None,
}


def _stage_a(batches: Iterator[pd.DataFrame], cfg: EngineConfig) -> Iterator[pd.DataFrame]:
    """Per doc: tokenize + doc-local scan filters -> packed per-page rows.
    A failing doc is quarantined as one page -1 row with the error text in
    `chars`; stages B and C pass it through as the doc's one error row."""
    for pdf in batches:
        rows: List[dict] = []
        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            try:
                rows.extend(_pack_pages(doc_id, spans, cfg))
            except Exception as exc:  # quarantine, never fail the task
                rows.append(dict(_NO_PAGE, doc_id=doc_id, page=-1,
                                 chars=[f"{type(exc).__name__}: {exc}"]))
        if rows:
            yield pd.DataFrame(rows)


def _pack_pages(doc_id: str, spans, cfg: EngineConfig) -> List[dict]:
    """Char order within each page is the table order, as on the narrow
    path (both split pages with _page_slices); media is packed sorted by
    offset."""
    kinds, texts, refs, offs = _spans_to_lists(spans)
    order = np.argsort(np.asarray(offs, dtype=np.int64), kind="stable")
    kinds = [kinds[i] for i in order]
    texts = [texts[i] for i in order]
    refs = [refs[i] for i in order]
    offs = [int(offs[i]) for i in order]
    table, media, styles = layout_document(doc_id, kinds, texts, refs, offs, cfg)
    table = apply_scan_filters(table, styles, cfg)
    media_by_page: Dict[int, list] = {}
    for m in media:
        media_by_page.setdefault(int(m.page), []).append(m)
    chars = np.asarray(table.char, dtype=object)
    slices = _page_slices(table.page)
    empty = np.empty(0, dtype=np.int64)
    rows: List[dict] = []
    for p in sorted(set(slices) | set(media_by_page)):
        idx = slices.get(p, empty)
        ms = sorted(media_by_page.get(p, []), key=lambda m: m.offset)
        rows.append({
            "doc_id": doc_id,
            "page": int(p),
            "x": table.x[idx], "y": table.y[idx],
            "w": table.w[idx], "h": table.h[idx],
            "baseline": table.baseline[idx],
            "style_idx": table.style_idx[idx].astype(np.int32),
            "chars": chars[idx].tolist(),
            "off": table.offset[idx].astype(np.int32),
            "mx": np.array([m.x for m in ms], dtype=np.float32),
            "my": np.array([m.y for m in ms], dtype=np.float32),
            "mw": np.array([m.w for m in ms], dtype=np.float32),
            "mh": np.array([m.h for m in ms], dtype=np.float32),
            "mref": [m.media_ref for m in ms],
            "moff": np.array([m.offset for m in ms], dtype=np.int32),
        })
    return rows


def _word_row(doc_id, page, rkind, a, b, c, t: _WordTable, idxs: List[int], **kw):
    row = dict(_EMPTY)
    row.update(doc_id=doc_id, page=page, rkind=rkind, a=a, b=b, c=c)
    row.update(
        wx=t.x[idxs].astype(np.float32),
        wy=t.y[idxs].astype(np.float32),
        ww=t.w[idxs].astype(np.float32),
        wh=t.h[idxs].astype(np.float32),
        wstyle=t.style[idxs].astype(np.int32),
        worigin=t.origin[idxs].astype(np.int64),
        wtext=[t.text[i] for i in idxs],
    )
    row.update(kw)
    return row


def _doc_luts(doc_id: str, cache: dict):
    """Per-doc style tables, cached per worker batch: a doc's pages are
    spread round-robin, so without the cache every PAGE rebuilds the style
    LUTs (measured ~40% of the operator's small-doc overhead when benched
    corpus-wide). Bounded by distinct docs per partition."""
    hit = cache.get(doc_id)
    if hit is None:
        styles = doc_styles(doc_id)
        cmp_lut, break_lut = _style_luts(styles)
        sx = np.array([s.x_size for s in styles], dtype=np.int64)
        sy = np.array([s.y_size for s in styles], dtype=np.int64)
        hit = cache[doc_id] = (cmp_lut, break_lut, sx, sy)
    return hit


def _analyze_packed_page(row, cfg: EngineConfig, mode: str, cache: dict) -> pd.DataFrame:
    """One packed page row -> structure rows (geometric analysis)."""
    doc_id, page = row["doc_id"], int(row["page"])
    if page < 0:  # stage A quarantined the doc: pass its error on
        return pd.DataFrame([dict(_EMPTY, doc_id=doc_id, page=page, rkind="error",
                                  a=0, b=0, c=0, text=row["chars"][0])])
    cmp_lut, break_lut, style_xsize, style_ysize = _doc_luts(doc_id, cache)

    x = np.asarray(row["x"], dtype=np.float32)
    y = np.asarray(row["y"], dtype=np.float32)
    w = np.asarray(row["w"], dtype=np.float32)
    h = np.asarray(row["h"], dtype=np.float32)
    g = _Glyphs(
        x=x, y=y, w=w, h=h, ex=x + w, ey=y + h,
        baseline=np.asarray(row["baseline"], dtype=np.float32),
        style=np.asarray(row["style_idx"], dtype=np.int32),
        text=list(row["chars"]),
        origin=np.asarray(row["off"], dtype=np.int64),
    )
    page_media = [
        MediaBox(page, float(mx), float(my), float(mw), float(mh), ref, int(off))
        for mx, my, mw, mh, ref, off in zip(
            row["mx"], row["my"], row["mw"], row["mh"], row["mref"], row["moff"]
        )
    ]

    t, paragraphs, bounds, blocks, captions = _analyze_one_page(
        g, page_media, cmp_lut, break_lut, style_xsize, style_ysize, cfg, mode
    )

    rows: List[dict] = []
    assigned: set = set()
    for pi, para in enumerate(paragraphs):
        for li, line in enumerate(para.lines):
            rows.append(_word_row(
                doc_id, page, "line", pi, li, para.region, t, line,
                f0=float(para.block),
            ))
            assigned.update(line)
    # words in the table but not in any line (assignment quirks) still count
    # toward the doc-level style histograms — ship them as leftovers
    left = [i for i in range(len(t)) if i not in assigned]
    if left:
        rows.append(_word_row(doc_id, page, "leftover", 0, 0, 0, t, left))
    for ri, bnd in enumerate(bounds):
        row = dict(_EMPTY)
        row.update(doc_id=doc_id, page=page, rkind="region", a=ri, b=0, c=0,
                   f0=float(bnd[0]), f1=float(bnd[1]), f2=float(bnd[2]),
                   f3=float(bnd[3]))
        rows.append(row)
    for ri, bb in enumerate(blocks):
        for rank, (y0, y1) in enumerate(bb):
            row = dict(_EMPTY)
            row.update(doc_id=doc_id, page=page, rkind="block", a=ri, b=rank,
                       c=0, f0=float(y0), f1=float(y1))
            rows.append(row)
    for mi, caps in captions.items():
        for li, (text, origin, style_idx, raw_words) in enumerate(caps):
            # c carries the caption line's dominating-style index (may be
            # FORMULA_IDX) so stage C can emit the same style_ref; the
            # caption's per-word payload rides the (otherwise unused) word
            # array columns so the VERBOSE sink gets identical word boxes
            # from both paths (floats here; both paths round at emission)
            row = dict(_EMPTY)
            row.update(doc_id=doc_id, page=page, rkind="caption", a=int(mi),
                       b=li, c=int(style_idx), text=text, origin=int(origin))
            row.update(
                wx=np.array([w[2] for w in raw_words], dtype=np.float32),
                wy=np.array([w[3] for w in raw_words], dtype=np.float32),
                ww=np.array([w[4] for w in raw_words], dtype=np.float32),
                wh=np.array([w[5] for w in raw_words], dtype=np.float32),
                wstyle=np.array([w[1] for w in raw_words], dtype=np.int32),
                worigin=np.zeros(len(raw_words), dtype=np.int64),
                wtext=[w[0] for w in raw_words],
            )
            rows.append(row)
    for mi, m in enumerate(page_media):
        row = dict(_EMPTY)
        row.update(doc_id=doc_id, page=page, rkind="media", a=mi, b=0, c=0,
                   f0=float(m.x), f1=float(m.y), f2=float(m.w), f3=float(m.h),
                   text=m.media_ref, origin=int(m.offset))
        rows.append(row)
    if not rows:
        return pd.DataFrame(columns=[f.split()[0] for f in PAGE_SCHEMA.split(", ")])
    return pd.DataFrame(rows)


def _stage_b(batches: Iterator[pd.DataFrame], cfg: EngineConfig, mode: str) -> Iterator[pd.DataFrame]:
    """mapInPandas over packed page rows — each row is a full page group.
    Per-doc style LUTs cached across the partition; one output frame (one
    Arrow batch) per input batch, not per page."""
    cache: dict = {}
    for pdf in batches:
        outs = [
            out
            for row in pdf.to_dict("records")
            if len(out := _analyze_packed_page(row, cfg, mode, cache))
        ]
        if outs:
            yield pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]


def _rebuild_table(word_rows: List[dict]) -> Tuple[_WordTable, List[List[int]]]:
    """Concatenate per-line word arrays back into one page table; returns the
    table and the per-row index lists (same construction as _word_table:
    ex/ey via float32 adds)."""
    xs, ys, ws, hs, sts, ors, txts = [], [], [], [], [], [], []
    spans: List[List[int]] = []
    base = 0
    for r in word_rows:
        n = len(r["wx"])
        spans.append(list(range(base, base + n)))
        base += n
        xs.append(np.asarray(r["wx"], dtype=np.float32))
        ys.append(np.asarray(r["wy"], dtype=np.float32))
        ws.append(np.asarray(r["ww"], dtype=np.float32))
        hs.append(np.asarray(r["wh"], dtype=np.float32))
        sts.append(np.asarray(r["wstyle"], dtype=np.int32))
        ors.append(np.asarray(r["worigin"], dtype=np.int64))
        txts.extend(list(r["wtext"]))
    if base == 0:
        z = np.empty(0, dtype=np.float32)
        return _WordTable(z, z, z, z, z, z, np.empty(0, np.int32), [],
                          np.empty(0, np.int64), np.empty(0, np.int64)), spans
    x = np.concatenate(xs)
    y = np.concatenate(ys)
    w = np.concatenate(ws)
    h = np.concatenate(hs)
    return _WordTable(
        x=x, y=y, w=w, h=h, ex=x + w, ey=y + h,
        style=np.concatenate(sts), text=txts,
        tlen=np.array([len(s) for s in txts], dtype=np.int64),
        origin=np.concatenate(ors),
    ), spans


def _stage_c(
    key, pdf: pd.DataFrame, cfg: EngineConfig, with_words: bool = False
) -> pd.DataFrame:
    """Per doc: rebuild per-page structures, run the doc-level tail."""
    doc_id = key[0]
    errors = pdf.loc[pdf["rkind"] == "error", "text"]
    if len(errors):
        row = error_row(doc_id, errors.iloc[0])
        if with_words:
            row["words"] = []
        return pd.DataFrame([row])
    styles = doc_styles(doc_id)
    pages_present = sorted(int(p) for p in pdf["page"].unique())
    n_pages = (pages_present[-1] + 1) if pages_present else 0

    tables: List[_WordTable] = []
    pages: List[List[Paragraph]] = []
    page_regions: List[List] = []
    page_blocks: List[List] = []
    page_captions: List[Dict[int, List[Tuple[str, int]]]] = []
    media_by_page: Dict[int, List[MediaBox]] = {}

    recs = pdf.to_dict("records")
    by_page: Dict[int, List[dict]] = {}
    for r in recs:
        by_page.setdefault(int(r["page"]), []).append(r)

    for p in range(n_pages):
        rows = by_page.get(p, [])
        line_rows = sorted(
            (r for r in rows if r["rkind"] == "line"),
            key=lambda r: (int(r["a"]), int(r["b"])),
        )
        leftover = [r for r in rows if r["rkind"] == "leftover"]
        t, spans = _rebuild_table(line_rows + leftover)
        tables.append(t)
        paras: List[Paragraph] = []
        for r, idxs in zip(line_rows, spans[: len(line_rows)]):
            pi = int(r["a"])
            if pi == len(paras):
                paras.append(Paragraph([], region=int(r["c"]), block=int(r["f0"])))
            paras[pi].lines.append(idxs)
        pages.append(paras)
        page_regions.append([
            (float(r["f0"]), float(r["f1"]), float(r["f2"]), float(r["f3"]))
            for r in sorted(
                (r for r in rows if r["rkind"] == "region"), key=lambda r: int(r["a"])
            )
        ])
        blocks_rows = sorted(
            (r for r in rows if r["rkind"] == "block"),
            key=lambda r: (int(r["a"]), int(r["b"])),
        )
        bb: List[List[Tuple[float, float]]] = [[] for _ in page_regions[p]]
        for r in blocks_rows:
            bb[int(r["a"])].append((float(r["f0"]), float(r["f1"])))
        page_blocks.append(bb)
        caps: Dict[int, List[tuple]] = {}
        for r in sorted(
            (r for r in rows if r["rkind"] == "caption"),
            key=lambda r: (int(r["a"]), int(r["b"])),
        ):
            raw_words = tuple(
                (v, int(si), float(np.float32(x)), float(np.float32(y)),
                 float(np.float32(w)), float(np.float32(h)))
                for v, si, x, y, w, h in zip(
                    r["wtext"], r["wstyle"], r["wx"], r["wy"], r["ww"], r["wh"]
                )
            )
            caps.setdefault(int(r["a"]), []).append(
                (r["text"], int(r["origin"]), int(r["c"]), raw_words)
            )
        page_captions.append(caps)
        media_by_page[p] = [
            MediaBox(p, float(r["f0"]), float(r["f1"]), float(r["f2"]),
                     float(r["f3"]), r["text"], int(r["origin"]))
            for r in sorted(
                (r for r in rows if r["rkind"] == "media"), key=lambda r: int(r["a"])
            )
        ]

    out = _finalize_document(
        tables, pages, page_regions, page_blocks, page_captions,
        media_by_page, n_pages, styles, cfg, emit_words=with_words,
    )
    data = {
        "doc_id": pd.Series([doc_id] * len(out), dtype="object"),
        "seq": pd.Series([s.seq for s in out], dtype="int32"),
        "kind": pd.Series([s.kind for s in out], dtype="object"),
        "text": pd.Series([s.text for s in out], dtype="object"),
        "media_ref": pd.Series([s.media_ref for s in out], dtype="object"),
        "offset": pd.Series([s.offset for s in out], dtype="int32"),
        "page": pd.Series([s.page for s in out], dtype="int32"),
        "para": pd.Series([s.para for s in out], dtype="int32"),
        "style_ref": pd.Series([s.style_ref for s in out], dtype="object"),
    }
    if with_words:
        from ..operators.extract import words_as_rows

        data["words"] = pd.Series(
            [words_as_rows(s.words) for s in out], dtype="object"
        )
    return pd.DataFrame(data)


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
    documents ever outgrow that.)"""
    if doc_partitions > 0:
        documents_df = documents_df.repartition(doc_partitions)
    pages = documents_df.mapInPandas(
        lambda it: _stage_a(it, cfg), schema=PAGE_CHAR_SCHEMA
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
