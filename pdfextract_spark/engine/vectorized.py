"""Vectorized per-document extraction pipeline.

Computes exactly what ``oracle.document.extract_document`` computes — bit-exact
float32 — but on columnar numpy arrays: no Rect/Glyph object graphs, no
per-glyph method dispatch. The cost that is left is per-call interpreter work,
so the kernels work on a whole page at a time wherever the result stays exact:

- W1 line grouping: the horizontal test compares a glyph with the previous
  one only, so it is one array pass; the baseline / maxY / style state of
  the current line is a scalar walk (comparisons on exact Python copies).
- W2/W3 words: one distance pass over the page's consecutive glyphs, one
  segmented boundary cut, word groups from one boundary mask. A line where
  the pairwise bbox-union fold does not provably degenerate to those
  glyph-to-glyph distances (blank or zero-size glyphs, y/h varying, x going
  back, a union that does not reproduce endX) takes the exact scalar fold.
- B3 line combining and the B5 paragraph fold stay scalar: each decision
  depends on the one before. A line's bbox fold and dominating style are
  pure functions of the word table and the index order, so they are
  memoized on the table: B3, B5, the region fold, the paragraph sort and
  the logical tail each ask for them, and each is computed once.
- Everything else batchable (y-histogram, slab scans, style comparison, the
  page split) is numpy elementwise work.

Float32 parity notes (tests assert equality vs the oracle on every corpus):
- np.float32 scalar/elementwise arithmetic == the oracle's f32(a op b)
- pairwise bbox-union folds are replicated as folds: f32(x1 + f32(x2 - x1))
  is not guaranteed to equal x2, so a global min/max would NOT be equivalent
- int() casts replicate Java's truncation toward zero (positive coords)
- sqrt: float32-rounded sqrt equals double-sqrt-then-round (2p+2 argument)

The document pipeline is three steps, and every caller runs these:

1. ``prepare_document``: offset sort, tokenize (layout_document), scan
   filters, style tables, media by page, page slices, page count;
2. ``PreparedDocument.analyze_page`` / ``_analyze_one_page``: one page's
   geometric analysis, page-local by construction;
3. ``finish_document``: the doc-level tail (``_finalize_document``); then
   ``spans_frame`` turns spans (or a quarantined document's ``error_spans``)
   into output rows.

``extract_document_fast`` runs them in one loop (operators/extract.py's
``extract_batch``, which streaming/extract_stream.py and the pipeline's
narrow band run); operators/extract_paged.py runs them as stages A, B and C
with shuffles in between; tools/render_page.py runs steps 1 and 2 for one
page.

Reference semantics per operator: see the docstrings in oracle/{words,lines,
paragraphs,logical}.py and SURVEY.md §2 (file:line cites into /root/reference).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from ..config import CONFIG, EngineConfig
from ..layout import CharTable, MediaBox, layout_document
from ..oracle.document import OutSpan
from ..oracle.lines import find_line_boundaries
from ..oracle.regions import (
    MEDIA_CONTAINER,
    MEDIA_HSEP,
    analyze_page_regions,
    categorize_media_combined,
)
from ..oracle.scanfilters import apply_scan_filters
from ..oracle.blocks import find_blocks, math_score_exceeds
from ..oracle.style import (
    BIG_DIFFERENCE,
    FORMULA,
    SAME_STYLE,
    SAME_STYLE_AND_BIG_TEXT,
    SPLIT,
    SUBTLE_DIFFERENCE,
    Style,
    style_compare,
)
from ..oracle.words import FONT_DENOM, JUMP_FRAC, SINGLE_FRAC

# sentinel style index for FORMULA-dominated lines (LineNode.findDominating
# Style override); never a valid index into the per-doc style dim
FORMULA_IDX = -2


def _style_of(styles: List["Style"], st: int) -> "Style":
    return FORMULA if st == FORMULA_IDX else styles[st]


def _style_cmp(cmp_lut: np.ndarray, a: int, b: int) -> int:
    if a == FORMULA_IDX or b == FORMULA_IDX:
        return SPLIT if (a == FORMULA_IDX) != (b == FORMULA_IDX) else SAME_STYLE
    return int(cmp_lut[a, b])

F32 = np.float32
_F32_TINY = np.float32(np.finfo(np.float32).tiny)
_F08 = np.float32(0.8)
_F07 = np.float32(0.7)
_F2 = np.float32(2.0)
_F0 = np.float32(0.0)


# --------------------------------------------------------------------- glyphs

@dataclass
class _Glyphs:
    """Columnar glyph (or word) table for one page."""

    x: np.ndarray
    y: np.ndarray
    w: np.ndarray
    h: np.ndarray
    ex: np.ndarray        # f32(x + w)
    ey: np.ndarray        # f32(y + h)
    baseline: np.ndarray
    style: np.ndarray     # int32 index into the style dim
    text: List[str]
    origin: np.ndarray    # int64 input-span offset

    def __len__(self) -> int:
        return len(self.text)

    @classmethod
    def of(cls, x, y, w, h, baseline, style, text: List[str], origin) -> "_Glyphs":
        """The table from its stored columns; ex/ey are the float32 adds."""
        return cls(x=x, y=y, w=w, h=h, ex=x + w, ey=y + h, baseline=baseline,
                   style=style, text=text, origin=origin.astype(np.int64))


def _page_slices(page: np.ndarray) -> Dict[int, np.ndarray]:
    """Each page's char indices, in table order. ONE stable argsort groups
    the chars by page (a boolean mask per page would be O(pages x chars):
    ~10 s for a 1k-page document)."""
    order = np.argsort(page, kind="stable")
    sorted_pages = page[order]
    page_vals = np.unique(sorted_pages)
    starts = np.searchsorted(sorted_pages, page_vals, side="left")
    ends = np.searchsorted(sorted_pages, page_vals, side="right")
    return {int(p): order[s:e] for p, s, e in zip(page_vals, starts, ends)}


def _page_glyphs(table: CharTable, mask: np.ndarray) -> _Glyphs:
    return _glyphs_at(table, np.nonzero(mask)[0])


def _glyphs_at(table: CharTable, idx: np.ndarray) -> _Glyphs:
    return _Glyphs.of(
        table.x[idx], table.y[idx], table.w[idx], table.h[idx],
        table.baseline[idx], table.style_idx[idx],
        [table.char[i] for i in idx.tolist()], table.offset[idx],
    )


def _style_luts(styles: List[Style]) -> Tuple[np.ndarray, np.ndarray]:
    """(full 5-way compare LUT, word-break LUT) indexed [a, b] for
    style_compare(styles[a], styles[b])."""
    n = len(styles)
    cmp_lut = np.zeros((n, n), dtype=np.int8)
    for a in range(n):
        for b in range(n):
            cmp_lut[a, b] = style_compare(styles[a], styles[b])
    break_lut = (cmp_lut == BIG_DIFFERENCE) | (cmp_lut == SPLIT)
    return cmp_lut, break_lut


def _style_tables(styles: List[Style]) -> Tuple[np.ndarray, ...]:
    """The per-document style arguments of _analyze_one_page: (compare LUT,
    word-break LUT, x sizes, y sizes)."""
    cmp_lut, break_lut = _style_luts(styles)
    return (
        cmp_lut, break_lut,
        np.array([s.x_size for s in styles], dtype=np.int64),
        np.array([s.y_size for s in styles], dtype=np.int64),
    )


# ------------------------------------------------------------------- distance

def _dist_scalar(ax, ay, aw, ah, bx, by, bw, bh) -> np.float32:
    """Rectangle.distance(Rectangle) on 8 float32 scalars (oracle geom.py)."""
    aex = ax + aw
    aey = ay + ah
    bex = bx + bw
    bey = by + bh
    if not (aw <= _F0 or ah <= _F0):
        if not (bex < ax or bx > aex or by > aey) and bey > ay:
            return _F0
    d = _F0
    if ax > bex:
        t = ax - bex
        d = d + t * t
    elif bx > aex:
        t = bx - aex
        d = d + t * t
    if ay > bey:
        t = ay - bey
        d = d + t * t
    elif by > aey:
        t = by - aey
        d = d + t * t
    return np.float32(math.sqrt(float(d)))


def _pair_distances(x, y, w, h, ex, ey) -> np.ndarray:
    """Vectorized rect distance between every pair of consecutive glyphs
    (W2 input; the pairs that straddle two lines are masked by the caller)."""
    ax, ay, aw, ah = x[:-1], y[:-1], w[:-1], h[:-1]
    aex, aey = ex[:-1], ey[:-1]
    bx, by = x[1:], y[1:]
    bex, bey = ex[1:], ey[1:]
    inter = (
        ~((aw <= _F0) | (ah <= _F0))
        & ~(bex < ax) & ~(bx > aex) & ~(by > aey) & (bey > ay)
    )
    tx = np.where(ax > bex, ax - bex, np.where(bx > aex, bx - aex, _F0))
    ty = np.where(ay > bey, ay - bey, np.where(by > aey, by - aey, _F0))
    d = tx * tx + ty * ty
    out = np.sqrt(d, dtype=np.float32)
    out[inter] = _F0
    return out


# ------------------------------------------------------------------ word table

@dataclass
class _WordTable:
    x: np.ndarray
    y: np.ndarray
    w: np.ndarray
    h: np.ndarray
    ex: np.ndarray
    ey: np.ndarray
    style: np.ndarray     # int32
    text: List[str]
    tlen: np.ndarray      # int64 len(text)
    origin: np.ndarray    # int64
    # _line_pos / _dominating_style results keyed by the index tuple: the
    # folds are pure functions of the (immutable) table and the index order,
    # and the same final line is asked for by B3, B5, the region fold, the
    # paragraph sort and the logical tail
    pos_memo: Dict[tuple, tuple] = field(default_factory=dict, repr=False)
    style_memo: Dict[tuple, int] = field(default_factory=dict, repr=False)

    def __len__(self) -> int:
        return len(self.text)


def _word_table(x, y, w, h, style, text: List[str], origin) -> _WordTable:
    x = np.asarray(x, dtype=np.float32)
    y = np.asarray(y, dtype=np.float32)
    w = np.asarray(w, dtype=np.float32)
    h = np.asarray(h, dtype=np.float32)
    return _WordTable(
        x=x, y=y, w=w, h=h, ex=x + w, ey=y + h,
        style=np.asarray(style, dtype=np.int32),
        text=text,
        tlen=np.fromiter(map(len, text), dtype=np.int64, count=len(text)),
        origin=np.asarray(origin, dtype=np.int64),
    )


def _take_words(t: _WordTable, keep: np.ndarray) -> _WordTable:
    idx = np.nonzero(keep)[0]
    return _WordTable(
        x=t.x[idx], y=t.y[idx], w=t.w[idx], h=t.h[idx],
        ex=t.ex[idx], ey=t.ey[idx], style=t.style[idx],
        text=[t.text[i] for i in idx.tolist()],
        tlen=t.tlen[idx], origin=t.origin[idx],
    )


# ------------------------------------------------------------ W1-W3 words

def _approximate_char_spacing(distances: np.ndarray) -> np.float32:
    """Legacy W2 average (oracle words.approximate_char_spacing)."""
    if distances.size == 0:
        return _F0
    s = np.sort(distances, kind="stable")
    max_boundary = max(FONT_DENOM, np.float32(s[0] * _F2))
    total = _F0
    counted = 0
    for d in s:
        if d > max_boundary:
            break
        total = total + d
        counted += 1
    return np.float32(total / np.float32(counted))


def _line_starts(x, w, ex, ey, baseline, style, break_lut) -> List[int]:
    """W1 on baseline-sorted glyphs: the index where each line starts.

    The horizontal test only compares a glyph with the one before it, so it
    is computed for all glyphs at once; the running baseline / maxY / style
    state stays a scalar walk, on exact Python copies of the float32 values
    (it only compares them)."""
    prev_ex = np.empty_like(ex)
    prev_ex[0] = ex[0]
    prev_ex[1:] = ex[:-1]
    # not is_within_variance(max_x, gx, gw), max_x being the previous endX
    far = ~((prev_ex == x) | (((prev_ex - w) <= x) & ((prev_ex + w) >= x)))
    b = baseline.tolist()
    exl = ex.tolist()
    eyl = ey.tolist()
    st = style.tolist()
    blut = break_lut.tolist()
    farl = far.tolist()
    starts = [0]
    line_base = b[0]
    max_y = float(_F32_TINY)
    cur_style = st[0]
    for j in range(len(b)):
        gb = b[j]
        if (line_base != gb and gb > max_y) or farl[j] or blut[st[j]][cur_style]:
            if j:
                starts.append(j)
            line_base = gb
            max_y = eyl[j]
            cur_style = st[j]
        if exl[j] > max_y:
            max_y = exl[j]  # reference quirk: maxY tracks endX
    return starts


def _boundary_cuts(d: np.ndarray, pline: np.ndarray, n_lines: int,
                   font_size: np.ndarray) -> np.ndarray:
    """oracle words.estimate_boundary_cut for every line of a page at once.
    d: the in-line pair distances, pline: each one's line (nondecreasing)."""
    cut = np.full(n_lines, np.inf, dtype=np.float32)
    if d.size == 0:
        return cut
    s = d[np.lexsort((d, pline))]
    first = np.ones(s.size, dtype=bool)
    first[1:] = pline[1:] != pline[:-1]
    seg = np.nonzero(first)[0]
    single_cut = SINGLE_FRAC * font_size[pline[seg]]
    cut[pline[seg]] = np.where(s[seg] > single_cut, single_cut, np.float32(np.inf))
    jump = np.nonzero(
        ~first[1:] & ((s[1:] - s[:-1]) > (JUMP_FRAC * font_size)[pline[:-1]])
    )[0]
    if jump.size:
        jl = pline[jump]
        k = jump[np.concatenate(([True], jl[1:] != jl[:-1]))]
        cut[pline[k]] = (s[k] + s[k + 1]) / _F2
    return cut


def _fold_line_words(
    x, y, w, h, ex, ey, texts, style, origin, s: int, e: int,
    contains_spaces: bool, char_spacing: np.float32, limit: np.float32,
) -> list:
    """Exact W3 pairwise fold over glyphs s..e-1 (oracle
    words.create_words_in_line): the word's union bbox grows glyph by glyph,
    and the boundary distance is measured from the union. Returns
    (x, y, w, h, text, style, origin) per word."""
    # list copies of np.float32 scalars: float32 arithmetic preserved, and
    # list indexing beats per-access array indexing
    lx = list(x[s:e])
    ly = list(y[s:e])
    lw = list(w[s:e])
    lh = list(h[s:e])
    lex = list(ex[s:e])
    ley = list(ey[s:e])
    tx = texts[s:e]
    words: list = []
    n = e - s
    k = 0
    cur = None
    while k < n or cur is not None:
        if cur is None:
            cur = [lx[k], ly[k], lw[k], lh[k], tx[k], int(style[s + k]), int(origin[s + k])]
            k += 1
        if cur[4].strip() == "":
            cur = None
            continue
        if k >= n:
            words.append(tuple(cur))
            break
        if contains_spaces:
            boundary = tx[k].strip() == ""
        else:
            d = _dist_scalar(cur[0], cur[1], cur[2], cur[3], lx[k], ly[k], lw[k], lh[k])
            boundary = bool((d - char_spacing) > limit)
        if boundary:
            words.append(tuple(cur))
            cur = None
        else:
            # combine: text concat + pairwise bbox-union fold (keeps style
            # and origin of the first glyph)
            cx, cy = cur[0], cur[1]
            aex = cx + cur[2]
            aey = cy + cur[3]
            bx, by, bex, bey = lx[k], ly[k], lex[k], ley[k]
            x1 = cx if cx <= bx else bx
            y1 = cy if cy <= by else by
            x2 = aex if aex >= bex else bex
            y2 = aey if aey >= bey else bey
            cur[0:5] = [x1, y1, x2 - x1, y2 - y1, cur[4] + tx[k]]
            k += 1
    return words


def _segment_words_page(
    g: _Glyphs, break_lut: np.ndarray, style_xsize: np.ndarray, mode: str
) -> _WordTable:
    """W1 line grouping + W2/W3 per line (oracle words.segment_words).

    W2 and W3 run once per page: one distance pass over consecutive glyphs,
    a segmented boundary cut, and word groups from the boundary mask. That
    shortcut is exact only where the pairwise bbox-union fold degenerates
    to glyph-to-glyph distances, so it is checked per line (no blank
    non-space glyph, positive w/h, constant y/h, monotone x/endX, and
    f32(x_s + f32(ex_j - x_s)) == ex_j for every glyph j of a word starting
    at s; then the fold provably gives w = f32(ex_e - x_s) and the same
    boundaries). A line that fails falls back to the exact fold."""
    m = len(g)
    if m == 0:
        return _word_table([], [], [], [], [], [], [])
    order = np.argsort(g.baseline, kind="stable")
    x, y, w, h = g.x[order], g.y[order], g.w[order], g.h[order]
    ex, ey = g.ex[order], g.ey[order]
    style = g.style[order]
    origin = g.origin[order]
    texts = [g.text[i] for i in order.tolist()]

    ls = np.asarray(
        _line_starts(x, w, ex, ey, g.baseline[order], style, break_lut), dtype=np.int64
    )
    n_lines = ls.size
    line_len = np.diff(np.append(ls, m))
    lid = np.repeat(np.arange(n_lines), line_len)

    blanks = {t for t in set(texts) if t.strip() == ""}
    if blanks:
        blank = np.fromiter((t in blanks for t in texts), dtype=bool, count=m)
        is_sp = np.fromiter((t == " " for t in texts), dtype=bool, count=m)
        has_sp = np.logical_or.reduceat(is_sp, ls)
    else:
        blank = is_sp = np.zeros(m, dtype=bool)
        has_sp = np.zeros(n_lines, dtype=bool)

    xs = style_xsize[style[ls]]
    font_size = np.where(xs == 0, 10, xs).astype(np.float32)
    limit = _F08 * font_size / FONT_DENOM

    # W2: pair j joins glyphs j and j+1; `inner` marks pairs within a line
    inner = lid[1:] == lid[:-1]
    d = _pair_distances(x, y, w, h, ex, ey)
    pline = lid[:-1]
    if mode == "legacy":
        char_spacing = np.zeros(n_lines, dtype=np.float32)
        for li in np.nonzero(~has_sp & (line_len > 1))[0].tolist():
            char_spacing[li] = _approximate_char_spacing(d[ls[li]:ls[li] + line_len[li] - 1])
    else:
        sel = inner & ~has_sp[pline]
        cut = _boundary_cuts(d[sel], pline[sel], n_lines, font_size)
        char_spacing = cut - limit
    boundary = np.where(
        has_sp[pline],
        blank[1:] | blank[:-1],
        (d - char_spacing[pline]) > limit[pline],
    ) | ~inner

    starts_new = np.empty(m, dtype=bool)
    starts_new[0] = True
    starts_new[1:] = boundary
    gs = np.nonzero(starts_new)[0]
    ge = np.append(gs[1:], m) - 1
    x1g = x[gs][np.cumsum(starts_new) - 1]

    # per-line fast-path preconditions; a failing line takes the exact fold
    y0, h0 = y[ls], h[ls]
    bad = (
        (blank & ~is_sp) | ~(w > _F0) | ~(h > _F0)
        | ~(y == y0[lid]) | ~(h == h0[lid])
        | ~(x1g + (ex - x1g) == ex)
    )
    bad_pair = inner & ((np.diff(x) < 0) | (np.diff(ex) < 0))
    line_bad = (
        np.logical_or.reduceat(bad, ls)
        | (np.bincount(pline[bad_pair], minlength=n_lines) > 0)
        # y-axis union fixpoint: h after the first combine is f32(ey - y)
        | ((y0 + h0) - y0 != h0)
    )

    keep = ~line_bad[lid[gs]] & ~blank[gs]
    s, e = gs[keep], ge[keep]
    # word texts are slices of the page's joined glyph texts (a glyph may
    # carry more than one char)
    flat = "".join(texts)
    co = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, texts), dtype=np.int64, count=m), out=co[1:])
    word_text = [flat[a:b] for a, b in zip(co[s].tolist(), co[e + 1].tolist())]
    ww = np.where(e == s, w[s], ex[e] - x[s])

    folded = []
    fold_line = []
    for li in np.nonzero(line_bad)[0].tolist():
        a = int(ls[li])
        words = _fold_line_words(
            x, y, w, h, ex, ey, texts, style, origin, a, a + int(line_len[li]),
            bool(has_sp[li]), char_spacing[li], limit[li],
        )
        folded.extend(words)
        fold_line.extend([li] * len(words))
    # one stable sort by line puts each line's words back in line order
    by_line = np.argsort(
        np.concatenate([lid[s], np.asarray(fold_line, dtype=np.int64)]), kind="stable"
    ).tolist()
    cols = list(zip(*folded)) if folded else [()] * 7

    def merged(fast, fold, dtype):
        return np.concatenate([fast, np.asarray(fold, dtype=dtype)])[by_line]

    all_text = word_text + list(cols[4])
    return _word_table(
        merged(x[s], cols[0], np.float32),
        merged(y[s], cols[1], np.float32),
        merged(ww, cols[2], np.float32),
        merged(h[s], cols[3], np.float32),
        merged(style[s], cols[5], np.int32),
        [all_text[i] for i in by_line],
        merged(origin[s], cols[6], np.int64),
    )


# Line = mutable list of word indices (order matters: pos/style folds follow it)
Line = List[int]


def _line_pos(t: _WordTable, line: Line) -> Tuple[np.float32, np.float32, np.float32, np.float32]:
    """Pairwise bbox-union fold in list order (== oracle Line.pos)."""
    key = tuple(line)
    pos = t.pos_memo.get(key)
    if pos is None:
        pos = t.pos_memo[key] = _union_fold(t, line)
    return pos


def _union_fold(t: _WordTable, line: Line) -> Tuple[np.float32, np.float32, np.float32, np.float32]:
    i0 = line[0]
    x, y, w, h = t.x[i0], t.y[i0], t.w[i0], t.h[i0]
    for i in line[1:]:
        aex = x + w
        aey = y + h
        bex = t.ex[i]
        bey = t.ey[i]
        bx = t.x[i]
        by = t.y[i]
        x1 = x if x <= bx else bx
        y1 = y if y <= by else by
        x2 = aex if aex >= bex else bex
        y2 = aey if aey >= bey else bey
        x, y, w, h = x1, y1, x2 - x1, y2 - y1
    return x, y, w, h


def _dominating_style(t: _WordTable, idxs: Line) -> int:
    """B8 letter-count-weighted mode; ties -> earliest first appearance.
    FORMULA override for mathy lines (mirrors oracle Line.dominating_style)."""
    key = tuple(idxs)
    st = t.style_memo.get(key)
    if st is None:
        st = t.style_memo[key] = _weighted_mode(t, idxs)
    return st


def _weighted_mode(t: _WordTable, idxs: Line) -> int:
    texts = [t.text[i] for i in idxs]
    if math_score_exceeds(texts):
        return FORMULA_IDX
    weights: Dict[int, int] = {}
    order: Dict[int, int] = {}
    for pos, (s, text) in enumerate(zip(t.style[idxs].tolist(), texts)):
        weights[s] = weights.get(s, 0) + len(text)
        if s not in order:
            order[s] = pos
    return max(weights, key=lambda s: (weights[s], -order[s]))


def _line_text(t: _WordTable, line: Line) -> str:
    return " ".join(t.text[i] for i in line)


def _words_payload(t: _WordTable, line: Line, styles) -> tuple:
    """writeWord payload (== oracle.document._line_words on the same
    bit-identical float32 word table): (value, style_ref, x, y, w, h) per
    word, ints via round-half-even. Per-word styles are the raw table styles
    (the FORMULA override is line-level only, in both implementations)."""
    return tuple(
        (
            t.text[i],
            _style_of(styles, int(t.style[i])).style_id,
            int(round(float(t.x[i]))),
            int(round(float(t.y[i]))),
            int(round(float(t.w[i]))),
            int(round(float(t.h[i]))),
        )
        for i in line
    )


def _caption_raw_words(t: _WordTable, line: Line) -> tuple:
    """Raw float32 caption word payload (value, style_idx, x, y, w, h) —
    captions lose their word-table indices when the container pull rebuilds
    the page table, so the geometry is carried by value. Kept as floats so
    the paged path can ship it through its float32 array columns and both
    paths round identically at emission."""
    return tuple(
        (
            t.text[i],
            int(t.style[i]),
            float(t.x[i]),
            float(t.y[i]),
            float(t.w[i]),
            float(t.h[i]),
        )
        for i in line
    )


# ------------------------------------------------------------------- B3 lines

def _create_lines(
    t: _WordTable, cmp_lut: np.ndarray, subset: Optional[Sequence[int]] = None
) -> List[Line]:
    """Oracle lines.create_lines on the columnar word table (optionally over
    a region's word-index subset; returned lines hold absolute indices)."""
    idx = np.arange(len(t)) if subset is None else np.asarray(subset, dtype=np.int64)
    n = int(idx.size)
    if n == 0:
        return []

    yi = t.y[idx].astype(np.int64)
    eyi = t.ey[idx].astype(np.int64)
    min_y = int(yi.min())
    max_y = int(eyi.max()) + 1
    # y-projection histogram via the difference trick (== per-word slice adds)
    size = max_y - min_y
    delta = np.zeros(size + 1, dtype=np.int64)
    hi = t.h[idx].astype(np.int64)
    wi = t.w[idx].astype(np.int64)
    starts = yi - min_y
    stops = np.minimum(starts + hi, size)
    np.add.at(delta, starts, wi)
    np.add.at(delta, stops, -wi)
    counts = np.cumsum(delta[:-1])

    boundaries = find_line_boundaries(counts.tolist())

    # window assignment; first window wins, within-window order = stable y
    # sort (== oracle's ordered scan). Window starts and stops never
    # decrease, so the windows a word fits are the ones whose stop admits
    # its endY (a suffix) and whose start admits its y (a prefix): the first
    # window it fits is the first whose stop admits it, if its start does.
    ordered = idx[np.argsort(t.y[idx], kind="stable")]
    yf_ord = t.y[ordered]
    bnd = np.asarray(boundaries, dtype=np.int64)
    win_start = min_y + bnd[:-1] - 1
    win = np.searchsorted(min_y + bnd[1:] + 1, t.ey[ordered], side="right")
    fits = np.nonzero(win < win_start.size)[0]
    fits = fits[yf_ord[fits] > win_start[win[fits]] - 1]
    by_win = fits[np.argsort(win[fits], kind="stable")]
    cuts = (np.nonzero(np.diff(win[by_win]))[0] + 1).tolist()
    words = ordered[by_win].tolist()
    lines: List[Line] = [
        words[a:b] for a, b in zip([0] + cuts, cuts + [len(words)]) if b > a
    ]

    _combine_lines(t, lines)
    x_of = t.x.tolist().__getitem__  # exact copies: the sort only compares
    for line in lines:
        line.sort(key=x_of)  # B4 in-line order, stable
    return lines


def _vertical_distance(ay, aey, by, bey) -> np.float32:
    if by >= aey:
        return np.float32(by - aey)
    if ay >= bey:
        return np.float32(ay - bey)
    return _F0


def _combine_lines(t: _WordTable, lines: List[Line]) -> None:
    """Oracle lines._combine_lines, in place."""
    i = 1
    while i < len(lines):
        last, cur = lines[i - 1], lines[i]
        if len(cur) < 4 and _dominating_style(t, cur) == _dominating_style(t, last):
            lx, ly, lw, lh = _line_pos(t, last)
            cx, cy, cw, ch = _line_pos(t, cur)
            if ch <= _F07 * lh and _vertical_distance(
                ly, ly + lh, cy, cy + ch
            ) <= _F2:
                last.extend(cur)
                del lines[i]
                continue
        i += 1


# -------------------------------------------------------- P10 + B5 paragraphs

def _avg_font_y(t: _WordTable, idxs: Sequence[int], style_ysize: np.ndarray) -> np.float32:
    ii = np.asarray(idxs, dtype=np.int64)
    lens = t.tlen[ii]
    n = int(lens.sum())
    if n == 0:
        return _F32_TINY
    y_sum = float((style_ysize[t.style[ii]].astype(np.int64) * lens).sum())
    return np.float32(y_sum / n)


def _modal_vertical_spacing(
    t: _WordTable,
    all_idx: Sequence[int],
    region: Tuple[np.float32, np.float32, np.float32, np.float32],
    style_ysize: np.ndarray,
) -> int:
    """Oracle paragraphs.modal_vertical_spacing, slab masks vectorized."""
    avg_y = _avg_font_y(t, all_idx, style_ysize)
    limit = int(avg_y) * 3
    if limit <= 0:
        limit = 1

    rx, ry, rw, rh = region
    ii = np.asarray(all_idx, dtype=np.int64)
    wx, wy, wex, wey = t.x[ii], t.y[ii], t.ex[ii], t.ey[ii]

    slab_x = []
    x = float(rx)
    step = float(rw) / 3.0
    if step <= 0.0:
        step = 1.0
    end_x = float(rx + rw)
    while x <= end_x:
        slab_x.append(float(int(x)))
        x += step
    # every 1px-wide slab at once: the words each one cuts, y-sorted within
    # the slab (stable), and the gaps between consecutive ones
    sx = np.asarray(slab_x, dtype=np.float32)[:, None]
    sy = np.float32(float(ry))
    sey = sy + np.float32(float(rh))
    cut = ~(wex < sx) & ~(wx > sx + np.float32(1.0)) & ~(wy > sey) & (wey > sy)
    slab, word = np.nonzero(cut)
    order = np.lexsort((wy[word], slab))
    slab, word = slab[order], word[order]
    same = slab[1:] == slab[:-1]
    d = (wy[word[1:]] - wey[word[:-1]]).astype(np.int64)
    hist = np.bincount(d[same & (d > 0) & (d < limit)], minlength=limit)

    index = -1
    if limit > 2:
        hh = hist[2:]
        index = 2 + (hh.size - 1 - int(np.argmax(hh[::-1])))

    temp = float(max(index, int(float(avg_y) * 0.5)))
    return int(temp + max(1.0, temp * 0.1))


class Paragraph:
    """Mutable paragraph: lines + leaf-region order + L4-L6 role."""

    __slots__ = ("lines", "region", "role", "block")

    def __init__(
        self, lines: List[Line], region: int = 0, role: str = "text", block: int = 0
    ):
        self.lines = lines
        self.region = region
        self.role = role
        self.block = block


def _segment_paragraphs(
    t: _WordTable, lines: List[Line], mvs: int, cmp_lut: np.ndarray
) -> List[Paragraph]:
    """Oracle paragraphs.segment_paragraphs (B5 fold)."""
    if not lines:
        return []
    gap_15 = np.float32(mvs * 1.5)
    gap_11 = np.float32(mvs * 1.1)

    ret: List[Paragraph] = []
    current: List[Line] = []
    current_style: Optional[int] = None
    last_pos = None

    for line in lines:
        line_style = _dominating_style(t, line)
        if current_style is None:
            current_style = line_style
            last_pos = _line_pos(t, line)

        lp = _line_pos(t, line)
        distance = np.float32(lp[1] - (last_pos[1] + last_pos[3]))
        cmp = _style_cmp(cmp_lut, current_style, line_style)

        if cmp == SPLIT:
            split = True
        elif cmp == SAME_STYLE_AND_BIG_TEXT:
            split = False
        elif cmp == SAME_STYLE:
            split = bool(distance > gap_15)
        elif cmp == SUBTLE_DIFFERENCE:
            found = any(int(t.style[i]) == current_style for i in line)
            split = bool(distance > (gap_15 if found else gap_11))
        else:  # BIG_DIFFERENCE
            found = any(int(t.style[i]) == current_style for i in line)
            split = not found

        if split:
            if current:
                ret.append(Paragraph(current))
            current = []
            current_style = line_style

        current.append(line)
        last_pos = lp

    if current:
        ret.append(Paragraph(current))
    return ret


# ----------------------------------------------------- P2-P8 page regions

def _avg_font_x(t: _WordTable, idxs: Sequence[int], style_xsize: np.ndarray) -> np.float32:
    ii = np.asarray(idxs, dtype=np.int64)
    lens = t.tlen[ii]
    n = int(lens.sum())
    if n == 0:
        return _F32_TINY
    x_sum = float((style_xsize[t.style[ii]].astype(np.int64) * lens).sum())
    return np.float32(x_sum / n)


def _analyze_page_vec(
    t: _WordTable,
    page_media: List[MediaBox],
    cmp_lut: np.ndarray,
    style_xsize: np.ndarray,
    style_ysize: np.ndarray,
    page_height: float = 800.0,
    media_roles: "Optional[Tuple[List[str], List[tuple]]]" = None,
):
    """Mirror of oracle.document._analyze_page on the columnar word table:
    P2 media roles -> P7 top split -> P8 separator bands -> P3-P5 column
    division (shared regions.py kernel) -> P9 band re-split -> per-region
    B3 lines + B5 paragraphs."""
    n = len(t)
    if n == 0:
        return [], [], []
    wx, wy, wex, wey = t.x, t.y, t.ex, t.ey
    x0, y0 = float(wx.min()), float(wy.min())
    x1, y1 = float(wex.max()), float(wey.max())

    all_idx = list(range(n))
    avg_x = _avg_font_x(t, all_idx, style_xsize)
    min_col = 0.8 * float(avg_x)
    page_rect = (
        np.float32(x0), np.float32(y0), np.float32(x1 - x0), np.float32(y1 - y0)
    )
    mvs_page = _modal_vertical_spacing(t, all_idx, page_rect, style_ysize)
    min_row = 1.1 * float(mvs_page)

    hsep_ys: List[float] = []
    media_obs = None
    if page_media:
        mx = np.array([m.x for m in page_media], dtype=np.float32)
        my = np.array([m.y for m in page_media], dtype=np.float32)
        mw = np.array([m.w for m in page_media], dtype=np.float32)
        mh = np.array([m.h for m in page_media], dtype=np.float32)
        roles, synth_hseps = (
            media_roles
            if media_roles is not None
            else categorize_media_combined(
                mx, my, mw, mh, wx, wy, wex, wey, region_w=x1 - x0, w_texts=t.text
            )
        )
        for m, role in zip(page_media, roles):
            if role != MEDIA_HSEP:
                continue
            sep_y = m.y + m.h / 2.0
            if not bool(np.any((wy < sep_y) & (wey > sep_y))):
                hsep_ys.append(sep_y)
        # merged stacks that still qualify: ONE synthetic separator in place
        # of the members (reference removeAll + re-add) — mirror of oracle
        for (_bx, by, _bex, bey) in synth_hseps:
            sep_y = (by + bey) / 2.0
            if not bool(np.any((wy < sep_y) & (wey > sep_y))):
                hsep_ys.append(sep_y)
        media_obs = (mx, my, mx + mw, my + mh)

    regions = analyze_page_regions(
        (x0, y0, x1, y1), wx, wy, wex, wey, t.tlen, hsep_ys, min_col, min_row,
        media_obs=media_obs,
        style_info=(
            [int(s) for s in t.style],
            [int(n) for n in t.tlen],
            lambda a, b: int(cmp_lut[a, b]) == SAME_STYLE,
        ),
        page_dims=(0.0, float(page_height)),
    )

    paragraphs: List[Paragraph] = []
    bounds = []
    block_bounds: List[List[Tuple[float, float]]] = []
    for reg in regions:
        idx = np.asarray(reg.word_idx, dtype=np.int64)
        # B1/B2: block grouping; leaf whitespace + media boxes block trails.
        # MATH_BAR-roled boxes additionally join the B2 scan (containedGraphics
        # bonus, Formulas.java:83-103) — mirror of the oracle call site
        blockers = list(reg.whitespace)
        math_bars = []
        for mi2, m in enumerate(page_media):
            if (
                m.x < reg.bound[2] and m.x + m.w > reg.bound[0]
                and m.y < reg.bound[3] and m.y + m.h > reg.bound[1]
            ):
                blockers.append((m.x, m.y, m.x + m.w, m.y + m.h))
                if roles and roles[mi2] == "math_bar":
                    math_bars.append((m.x, m.y, m.x + m.w, m.y + m.h))
        blocks = find_blocks(
            t.x[idx], t.y[idx], t.ex[idx], t.ey[idx],
            [t.text[i] for i in idx],
            reg.bound,
            blockers,
            math_bars=math_bars,
        )
        block_lines = [
            _create_lines(t, cmp_lut, subset=[int(idx[i]) for i in blk])
            for blk in blocks
        ]
        all_lines = [l for lines in block_lines for l in lines]
        if not all_lines:
            continue
        rpos = _line_pos(t, all_lines[0])
        for line in all_lines[1:]:
            bx, by, bw, bh = _line_pos(t, line)
            aex = rpos[0] + rpos[2]
            aey = rpos[1] + rpos[3]
            bex = bx + bw
            bey = by + bh
            nx0 = rpos[0] if rpos[0] <= bx else bx
            ny0 = rpos[1] if rpos[1] <= by else by
            nx1 = aex if aex >= bex else bex
            ny1 = aey if aey >= bey else bey
            rpos = (nx0, ny0, nx1 - nx0, ny1 - ny0)
        sub_all = [i for line in all_lines for i in line]
        mvs = _modal_vertical_spacing(t, sub_all, rpos, style_ysize)
        bb: List[Tuple[float, float]] = []
        for lines in block_lines:
            if not lines:
                continue
            paras = _segment_paragraphs(t, lines, mvs, cmp_lut)
            for para in paras:
                para.region = len(bounds)
                para.block = len(bb)
            ii = [i for l in lines for i in l]
            bb.append((float(t.y[ii].min()), float(t.ey[ii].max())))
            paragraphs.extend(paras)
        bounds.append(reg.bound)
        block_bounds.append(bb)
    # logical ops (L2 title-first, L5 abstract delete-preceding) treat the
    # page paragraph LIST as reading order — restore it after block-major
    # construction (stable: block order breaks y ties)
    paragraphs.sort(key=lambda para: (para.region, float(_para_pos(t, para)[1])))
    return paragraphs, bounds, block_bounds


def _media_region_vec(m: MediaBox, bounds) -> int:
    """Mirror of oracle _media_region (overlap area, then y distance)."""
    if not bounds:
        return 0
    cx0, cx1 = m.x, m.x + m.w
    cy0, cy1 = m.y, m.y + m.h
    best, best_key = 0, None
    for i, (bx0, by0, bx1, by1) in enumerate(bounds):
        ovx = max(0.0, min(cx1, bx1) - max(cx0, bx0))
        ovy = max(0.0, min(cy1, by1) - max(cy0, by0))
        ydist = max(by0 - cy1, cy0 - by1, 0.0)
        key = (-(ovx * ovy), ydist, -ovx)
        if best_key is None or key < best_key:
            best, best_key = i, key
    return best


# ------------------------------------------------------------- L1-L3 logical

def _para_pos(t: _WordTable, para: Paragraph):
    x, y, w, h = _line_pos(t, para.lines[0])
    for line in para.lines[1:]:
        bx, by, bw, bh = _line_pos(t, line)
        aex = x + w
        aey = y + h
        bex = bx + bw
        bey = by + bh
        x1 = x if x <= bx else bx
        y1 = y if y <= by else by
        x2 = aex if aex >= bex else bex
        y2 = aey if aey >= bey else bey
        x, y, w, h = x1, y1, x2 - x1, y2 - y1
    return x, y, w, h


def _para_style(t: _WordTable, para: Paragraph) -> int:
    return _dominating_style(t, [i for line in para.lines for i in line])


def _find_body_style(
    tables: List[_WordTable], styles: List[Style]
) -> int:
    counts = np.zeros(len(styles), dtype=np.int64)
    for t in tables:
        if len(t):
            counts += np.bincount(
                t.style, weights=t.tlen, minlength=len(styles)
            ).astype(np.int64)
    body = 0
    max_count = -1
    for s in range(len(styles)):
        if counts[s] > max_count:
            max_count = int(counts[s])
            body = s
    return body


def _can_be_line_id(t: _WordTable, line: Line, st: int, body: int, styles: List[Style]) -> bool:
    s = _style_of(styles, st)
    if styles[body].font_name == s.font_name or styles[body].x_size >= s.x_size:
        return False
    text = _line_text(t, line).strip()
    first_word = text.split()[0] if text else ""
    if len(first_word) > 3 or not first_word:
        return False
    c = first_word[0]
    return c.isdigit() or "." in first_word or c in "abcdABCI"


def _find_header_candidates(
    tables: List[_WordTable], pages: List[List[Paragraph]], body: int, styles: List[Style]
) -> List[int]:
    candidates: List[int] = []
    for p, page in enumerate(pages):
        t = tables[p]
        for para in page:
            for line in para.lines:
                st = _dominating_style(t, line)
                if st in candidates or st == body:
                    continue
                if _style_of(styles, st).x_size >= styles[body].x_size or _can_be_line_id(
                    t, line, st, body, styles
                ):
                    candidates.append(st)
    return candidates


def _extract_title(
    tables: List[_WordTable], pages: List[List[Paragraph]], header_candidates: List[int]
) -> Optional[Paragraph]:
    if not pages or not pages[0]:
        return None
    first = pages[0]
    t = tables[0]
    for i, para in enumerate(first):
        if _para_style(t, para) in header_candidates:
            if i + 1 != len(first) - 1 and i + 1 < len(first):
                nxt = first[i + 1]
                if _para_style(t, nxt) == _para_style(t, para):
                    para.lines.extend(nxt.lines)
                    first.remove(nxt)
            first.remove(para)
            return para
    return None


def _tag_footnotes(
    tables: List[_WordTable], pages: List[List[Paragraph]], body: int,
    styles: List[Style],
) -> None:
    """L4 mirror of oracle.logical.tag_footnotes."""
    for p, page in enumerate(pages):
        t = tables[p]
        for para in page:
            st = _para_style(t, para)
            if _style_of(styles, st).x_size >= styles[body].x_size:
                continue
            text = _line_text(t, para.lines[0]).strip() if para.lines else ""
            first = text.split()[0] if text else ""
            if first and (first[0].isdigit() or first[0] == "*"):
                para.role = "footnote"


def _extract_abstract(
    tables: List[_WordTable], pages: List[List[Paragraph]]
) -> List[Paragraph]:
    """L5 mirror of oracle.logical.extract_abstract."""
    if not pages or not pages[0]:
        return []
    first = pages[0]
    t = tables[0]
    for i, para in enumerate(first):
        text = _line_text(t, para.lines[0]).strip().lower() if para.lines else ""
        if not text.startswith("abstract"):
            continue
        st = _para_style(t, para)
        absorbed = [para]
        j = i + 1
        while j < len(first) and _para_style(t, first[j]) == st:
            absorbed.append(first[j])
            j += 1
        del first[:j]
        for a in absorbed:
            a.role = "abstract"
        return absorbed
    return []


def _recognize_divs(
    tables: List[_WordTable], pages: List[List[Paragraph]],
    header_candidates: List[int], body: int,
) -> None:
    """L6 mirror of oracle.logical.recognize_divs."""
    div_styles: List[int] = []
    for p, page in enumerate(pages):
        t = tables[p]
        for para in page:
            text = _line_text(t, para.lines[0]).strip() if para.lines else ""
            first = text.split()[0] if text else ""
            if not first or not first[0].isdigit():
                continue
            st = _para_style(t, para)
            if st == body or st not in header_candidates:
                continue
            if st not in div_styles:
                if len(div_styles) >= 3:
                    continue
                div_styles.append(st)
            para.role = f"heading{div_styles.index(st) + 1}"


def _remove_page_numbers(
    tables: List[_WordTable], pages: List[List[Paragraph]], page_end_y: float
) -> None:
    pot_per_page: List[Tuple[int, List[Paragraph]]] = []
    all_pot: List[Tuple[int, Paragraph]] = []
    for p, page in enumerate(pages):
        t = tables[p]
        current: List[Paragraph] = []
        for para in page:
            if len(para.lines) != 1:
                continue
            if _para_pos(t, para)[1] < page_end_y * 0.85:
                continue
            text = " ".join(_line_text(t, line) for line in para.lines).strip()
            if text and all(ch.isdigit() for ch in text):
                current.append(para)
        if current:
            pot_per_page.append((p, current))
            all_pot.extend((p, para) for para in current)

    if len(pot_per_page) < max(1, len(pages) // 2):
        return

    # mode style over all candidate words (letter-weighted, tie by appearance)
    weights: Dict[int, int] = {}
    order: Dict[int, int] = {}
    pos = 0
    for p, para in all_pot:
        t = tables[p]
        for line in para.lines:
            for i in line:
                s = int(t.style[i])
                weights[s] = weights.get(s, 0) + len(t.text[i])
                if s not in order:
                    order[s] = pos
                pos += 1
    mode_style = max(weights, key=lambda s: (weights[s], -order[s]))

    for p, candidates in pot_per_page:
        t = tables[p]
        matching = [para for para in candidates if _para_style(t, para) == mode_style]
        if len(matching) != 1:
            continue
        pages[p].remove(matching[0])


# ------------------------------------------------------------------- pipeline

def _analyze_one_page(
    g: _Glyphs,
    page_media: List[MediaBox],
    cmp_lut: np.ndarray,
    break_lut: np.ndarray,
    style_xsize: np.ndarray,
    style_ysize: np.ndarray,
    cfg: EngineConfig,
    mode: str,
):
    """One page's chars -> (word table, paragraphs, region bounds, block
    bounds, captions). Page-local by construction — this is the unit the
    page-parallel path distributes (operators/extract_paged.py)."""
    t = _segment_words_page(g, break_lut, style_xsize, mode)
    # P2/P1/B7: text fully inside a CONTAINER graphic leaves the page
    # flow; its lines re-attach to the media at emission (mirror of
    # oracle._analyze_page's extraction)
    captions: Dict[int, List[Tuple[str, int]]] = {}
    page_roles = None
    if page_media and len(t):
        roles, synth_hseps = categorize_media_combined(
            np.array([m.x for m in page_media], dtype=np.float32),
            np.array([m.y for m in page_media], dtype=np.float32),
            np.array([m.w for m in page_media], dtype=np.float32),
            np.array([m.h for m in page_media], dtype=np.float32),
            t.x, t.y, t.ex, t.ey,
            region_w=float(t.ex.max() - t.x.min()),
            w_texts=t.text,
        )
        page_roles = (roles, synth_hseps)
        pulled = np.zeros(len(t), dtype=bool)
        for mi, (m, role) in enumerate(zip(page_media, roles)):
            if role != MEDIA_CONTAINER:
                continue
            inside = (
                (t.x >= m.x) & (t.ex <= m.x + m.w)
                & (t.y >= m.y) & (t.ey <= m.y + m.h) & ~pulled
            )
            if not bool(inside.any()):
                continue
            pulled |= inside
            cap_lines = _create_lines(
                t, cmp_lut, subset=[int(i) for i in np.nonzero(inside)[0]]
            )
            captions[mi] = [
                (_line_text(t, line), int(min(t.origin[i] for i in line)),
                 _dominating_style(t, line), _caption_raw_words(t, line))
                for line in cap_lines
            ]
        if bool(pulled.any()):
            t = _take_words(t, ~pulled)
    paragraphs, bounds, blocks = _analyze_page_vec(
        t, page_media, cmp_lut, style_xsize, style_ysize,
        page_height=cfg.page_height, media_roles=page_roles,
    )
    return t, paragraphs, bounds, blocks, captions


@dataclass
class PreparedDocument:
    """A document after the doc-local prologue: the tokenized, scan-filtered
    glyph table, its media boxes and style tables, split by page."""

    table: CharTable
    media_by_page: Dict[int, List[MediaBox]]
    styles: List[Style]
    style_tables: Tuple[np.ndarray, ...]
    slices: Dict[int, np.ndarray]  # page -> char indices, in table order
    n_pages: int

    def analyze_page(self, page: int, cfg: EngineConfig, mode: str):
        """Step 2 on one page: _analyze_one_page's result."""
        return _analyze_one_page(
            _glyphs_at(self.table, self.slices.get(page, _NO_CHARS)),
            self.media_by_page.get(page, []), *self.style_tables, cfg, mode,
        )


_NO_CHARS = np.empty(0, dtype=np.int64)


def prepare_document(
    doc_id: str,
    kinds: Sequence[str],
    texts: Sequence[str],
    media_refs: Sequence[str],
    offsets: Sequence[int],
    cfg: EngineConfig = CONFIG,
) -> PreparedDocument:
    """Step 1: offset sort, tokenize, doc-local scan filters (S6-S10), style
    tables, media by page (layout order) and page slices."""
    order = np.argsort(np.asarray(offsets, dtype=np.int64), kind="stable")
    table, media, styles = layout_document(
        doc_id, [kinds[i] for i in order], [texts[i] for i in order],
        [media_refs[i] for i in order], [int(offsets[i]) for i in order], cfg,
    )
    table = apply_scan_filters(table, styles, cfg)
    media_by_page: Dict[int, List[MediaBox]] = {}
    for m in media:
        media_by_page.setdefault(m.page, []).append(m)
    slices = _page_slices(table.page)
    return PreparedDocument(
        table, media_by_page, styles, _style_tables(styles), slices,
        max([*slices, *media_by_page], default=-1) + 1,
    )


def finish_document(
    per_page: List[tuple],
    media_by_page: Dict[int, List[MediaBox]],
    styles: List[Style],
    cfg: EngineConfig,
    emit_words: bool = False,
) -> List[OutSpan]:
    """Step 3: the doc-level tail over every page's _analyze_one_page result,
    in page order."""
    tables, pages, regions, blocks, captions = (
        (list(c) for c in zip(*per_page)) if per_page else ([],) * 5
    )
    return _finalize_document(
        tables, pages, regions, blocks, captions,
        media_by_page, len(per_page), styles, cfg, emit_words=emit_words,
    )


def extract_document_fast(
    doc_id: str,
    kinds: Sequence[str],
    texts: Sequence[str],
    media_refs: Sequence[str],
    offsets: Sequence[int],
    cfg: EngineConfig = CONFIG,
    mode: str = "tuned",
    emit_words: bool = False,
) -> List[OutSpan]:
    """Drop-in vectorized equivalent of oracle.document.extract_document."""
    doc = prepare_document(doc_id, kinds, texts, media_refs, offsets, cfg)
    per_page = [doc.analyze_page(p, cfg, mode) for p in range(doc.n_pages)]
    return finish_document(per_page, doc.media_by_page, doc.styles, cfg, emit_words)


def _finalize_document(
    tables: List[_WordTable],
    pages: List[List[Paragraph]],
    page_regions: List[List],
    page_blocks: List[List],
    page_captions: List[Dict[int, List[Tuple[str, int]]]],
    media_by_page: Dict[int, List[MediaBox]],
    n_pages: int,
    styles: List[Style],
    cfg: EngineConfig,
    emit_words: bool = False,
) -> List[OutSpan]:
    """Doc-level tail: logical analysis (L1-L6) + ordered span assembly.
    Pure function of the per-page analysis results — the page-parallel path
    reconstructs its inputs from shuffled rows; both reach it via finish_document."""
    body = _find_body_style(tables, styles)
    header_candidates = _find_header_candidates(tables, pages, body, styles)
    title = _extract_title(tables, pages, header_candidates)
    _remove_page_numbers(tables, pages, cfg.page_height)
    _tag_footnotes(tables, pages, body, styles)
    abstract = _extract_abstract(tables, pages)
    _recognize_divs(tables, pages, header_candidates, body)

    def _sref(t: _WordTable, line) -> str:
        return _style_of(styles, _dominating_style(t, line)).style_id

    def _words_of(t: _WordTable, line) -> tuple:
        return _words_payload(t, line, styles) if emit_words else ()

    def _cap_words(raw: tuple) -> tuple:
        if not emit_words:
            return ()
        return tuple(
            (v, _style_of(styles, si).style_id,
             int(round(x)), int(round(y)), int(round(w)), int(round(h)))
            for (v, si, x, y, w, h) in raw
        )

    out: List[OutSpan] = []
    seq = 0
    front_para = 0
    if title is not None:
        t = tables[0]
        for line in title.lines:
            out.append(
                OutSpan(seq, "title", _line_text(t, line), "",
                        int(min(t.origin[i] for i in line)),
                        page=-1, para=front_para, style_ref=_sref(t, line),
                        words=_words_of(t, line))
            )
            seq += 1
        front_para += 1
    if abstract:
        t = tables[0]
        for para in abstract:
            for line in para.lines:
                out.append(
                    OutSpan(seq, "abstract", _line_text(t, line), "",
                            int(min(t.origin[i] for i in line)),
                            page=-1, para=front_para, style_ref=_sref(t, line),
                            words=_words_of(t, line))
                )
                seq += 1
            front_para += 1

    for p in range(n_pages):
        t = tables[p]
        items: List[Tuple[int, float, int, int, str, object, object]] = []
        for pi, para in enumerate(pages[p]):
            for li, line in enumerate(para.lines):
                items.append(
                    (para.region, float(_line_pos(t, line)[1]), pi, li,
                     "line", line, para)
                )
        for mi, m in enumerate(media_by_page.get(p, [])):
            r = _media_region_vec(m, page_regions[p])
            items.append((r, float(m.y), 1_000_000 + mi, 0, "media", m, None))
            # B7: caption lines re-attach right after their media span
            for li, cap in enumerate(page_captions[p].get(mi, [])):
                items.append((r, float(m.y), 1_000_000 + mi, 1 + li, "capline", cap, None))
        items.sort(key=lambda it: (it[0], it[1], it[2], it[3]))
        for _, _, pi, _, kind, obj, para in items:
            if kind == "capline":
                out.append(OutSpan(seq, "text", obj[0], "", obj[1],
                                   page=p, para=pi,
                                   style_ref=_style_of(styles, obj[2]).style_id,
                                   words=_cap_words(obj[3])))
                seq += 1
            elif kind == "line":
                role = para.role
                st = _dominating_style(t, obj)
                if role == "text" and st == FORMULA_IDX:
                    role = "formula"
                out.append(
                    OutSpan(seq, role, _line_text(t, obj), "",
                            int(min(t.origin[i] for i in obj)),
                            page=p, para=pi,
                            style_ref=_style_of(styles, st).style_id,
                            words=_words_of(t, obj))
                )
                seq += 1
            else:
                out.append(OutSpan(seq, "media", "", obj.media_ref, obj.offset,
                                   page=p, para=pi))
                seq += 1
    return out


# ---------------------------------------------------------------- output rows

# the output frame's span columns after doc_id, with their pandas dtypes
# (operators/extract.py OUTPUT_SCHEMA)
_SPAN_DTYPES = {
    "seq": "int32", "kind": "object", "text": "object", "media_ref": "object",
    "offset": "int32", "page": "int32", "para": "int32", "style_ref": "object",
}


def error_text(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"


def error_spans(text: str) -> List[OutSpan]:
    """The one output span of a quarantined document."""
    return [OutSpan(-1, "error", text, "", -1)]


def words_as_rows(words: tuple) -> list:
    """OutSpan.words tuple -> Arrow-friendly list of struct dicts."""
    return [
        {"value": v, "style_ref": r, "x": x, "y": y, "w": w, "h": h}
        for (v, r, x, y, w, h) in words
    ]


def spans_frame(
    docs: Sequence[Tuple[str, List[OutSpan]]], with_words: bool = False
) -> pd.DataFrame:
    """(doc_id, spans) per document -> the output frame, plus the VERBOSE
    `words` column when with_words."""
    ids = [doc_id for doc_id, out in docs for _ in out]
    spans = [s for _, out in docs for s in out]
    data = {"doc_id": pd.Series(ids, dtype="object")}
    for col, dtype in _SPAN_DTYPES.items():
        data[col] = pd.Series([getattr(s, col) for s in spans], dtype=dtype)
    if with_words:
        data["words"] = pd.Series([words_as_rows(s.words) for s in spans], dtype="object")
    return pd.DataFrame(data)
