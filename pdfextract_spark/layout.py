"""Synthetic-geometry tokenizer (S4-analog).

The input table carries no geometry — only ordered interleaved spans
(kind, text, media_ref, offset). This module deterministically lays every
text span out into positioned float32 glyphs (and media spans into positioned
boxes), replicating what the reference's glyph decoder produces from a PDF
content stream (SURVEY.md §2.1 S4; reference PDFBoxIntegration.processEncodedText).

The function is PURE: geometry depends only on (doc_id, spans) and the engine
config. Both the sequential oracle and the distributed Spark pipeline call
this same code, so span-sequence equality tests exercise the *analysis*
stages, not the tokenizer.

Layout model (all float32):
- pages of page_width x page_height with a margin; cursor flows top-down
- every text span starts a new visual line; spans flagged by the seeded
  per-span draw get an extra paragraph gap before them
- per-doc style dim (body/heading/small) derived from a seeded RNG; the first
  text span gets the heading style (title analog); short all-digit spans are
  page-number analogs pinned to the page's bottom zone
- word gaps are 0.28-0.36 x fontsize; intra-word kerning jitter is
  +-0.05 x fontsize, so the two gap clusters are cleanly separated (mirrors
  the .spacing corpus distributions)
- media spans consume a block of vertical space and emit one media box
"""

from __future__ import annotations

import hashlib
import re
import unicodedata
from dataclasses import dataclass
from typing import List, Sequence, Tuple

import numpy as np

from .config import CONFIG, EngineConfig
from .oracle.blocks import math_score_exceeds
from .oracle.style import Style

F32 = np.float32


@dataclass
class CharTable:
    """Columnar per-document glyph table (float32 geometry)."""

    page: np.ndarray        # int32
    x: np.ndarray           # float32
    y: np.ndarray           # float32
    w: np.ndarray           # float32
    h: np.ndarray           # float32
    baseline: np.ndarray    # float32
    style_idx: np.ndarray   # int32 -> styles list
    char: List[str]         # 1-char strings (may include " "; S7 merges
                            # combining marks into base+mark strings)
    offset: np.ndarray      # int32 originating input-span offset
    rot: np.ndarray         # int16 glyph direction in degrees (S10 input)

    def __len__(self) -> int:
        return len(self.char)


@dataclass
class MediaBox:
    page: int
    x: float
    y: float
    w: float
    h: float
    media_ref: str
    offset: int


def doc_seed(doc_id: str) -> int:
    """Stable 64-bit seed from doc_id (independent of PYTHONHASHSEED)."""
    return int.from_bytes(hashlib.blake2b(doc_id.encode("utf-8"), digest_size=8).digest(), "big")


def doc_styles(doc_id: str) -> List[Style]:
    """Per-document style dim: [body, heading/h1, small, h2]."""
    rng = np.random.Generator(np.random.PCG64(doc_seed(doc_id) ^ 0x5717E5))
    body_size = int(10 + rng.integers(0, 3))            # 10..12
    return [
        Style("Times", "", body_size, body_size),
        Style("Times-Bold", "", body_size + 4, body_size + 4, bold=True),
        Style("Times", "", body_size - 2, body_size - 2),
        Style("Times-Bold", "", body_size + 2, body_size + 2, bold=True),
        Style("Garbled", "", body_size, body_size),
    ]


BODY, HEADING, SMALL, H2, GARBLED = 0, 1, 2, 3, 4


def _control_ratio(text: str) -> float:
    if not text:
        return 0.0
    ctrl = sum(1 for c in text if c < " " or "\x7f" <= c <= "\x9f")
    return ctrl / len(text)


_HEADING_RE = re.compile(r"^\d+(\.\d+)* [A-Z]")
_FOOTNOTE_RE = re.compile(r"^\d+ [a-z]")


def _is_pagenum_text(text: str) -> bool:
    return 0 < len(text) <= 4 and text.isdigit()


def _doc_rng(doc_id: str) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64(doc_seed(doc_id)))


def _draw_two_col(rng: np.random.Generator) -> bool:
    """The first draw of every document's stream: 25% of documents flow in
    two columns (exercises P3-P5 column detection)."""
    return bool(rng.uniform() < 0.25)


def is_two_col(doc_id: str) -> bool:
    """Whether layout_document flows this doc in two columns."""
    return _draw_two_col(_doc_rng(doc_id))


def _span_style(text: str, prev_text: str, seen_text: bool) -> int:
    if not seen_text:
        return HEADING
    if _control_ratio(text) > 0.2:
        return GARBLED
    if _is_pagenum_text(text):
        return SMALL
    if _HEADING_RE.match(text):
        return H2 if "." in text.split(" ", 1)[0] else HEADING
    if _FOOTNOTE_RE.match(text):
        return SMALL
    if text == "Abstract" or prev_text == "Abstract":
        return SMALL
    return BODY


# plan entry kinds (first field of each entry)
_MEDIA, _CAPTION, _PAGENUM, _FLOW = range(4)


def layout_document(
    doc_id: str,
    kinds: Sequence[str],
    texts: Sequence[str],
    media_refs: Sequence[str],
    offsets: Sequence[int],
    cfg: EngineConfig = CONFIG,
) -> Tuple[CharTable, List[MediaBox], List[Style]]:
    """Deterministically position every span's glyphs. Spans must be given in
    offset order (the caller sorts).

    Three passes: a per-span plan that consumes the random stream; the
    flowed words' kerning, widths and gaps computed in bulk; then the scalar
    float32 cursor walk (line, column and page breaks) per word."""
    styles = doc_styles(doc_id)
    rng = _doc_rng(doc_id)
    two_col = _draw_two_col(rng)

    margin = F32(cfg.page_margin)
    page_w = F32(cfg.page_width)
    page_h = F32(cfg.page_height)
    bottom = page_h - margin
    body_y = styles[BODY].y_size
    leading = F32(cfg.line_leading_factor * body_y)
    # the gutter between columns is the whitespace the engine must recover
    gutter = F32(cfg.column_gutter)
    if two_col:
        col_w = F32((page_w - 2 * margin - gutter) / F32(2.0))
    else:
        col_w = F32(page_w - 2 * margin)
    col_x0s = [F32(margin + c * F32(col_w + gutter)) for c in (0, 1)]
    sizes = [F32(s.x_size) for s in styles]
    char_ws = [F32(cfg.char_aspect * s) for s in sizes]

    # Every draw after the two-column one comes from one bulk buffer, in the
    # order the scalar draws would be made: 3 per span, then k per flowed
    # word of k chars (k - 1 kerning jitters, then the word gap). Whether a
    # text span flows is known only while planning (a caption depends on the
    # size drawn for the media box before it), so the buffer has an upper
    # bound and the generator is rewound to the draws used before the
    # trailing watermark draws. `lo + (hi - lo) * random()` is what
    # Generator.uniform computes, so the values are bit-identical.
    n = len(kinds)
    bitgen = rng.bit_generator
    state = bitgen.state
    buf = rng.random(3 * n + sum(len(texts[i] or "") for i in range(n)))
    span_draws = buf.tolist()

    # ---- pass 1: plan every span, consuming the stream
    plan: list = []
    flow_words: List[str] = []
    flow_draw: List[int] = []    # index in buf of each flowed word's first draw
    flow_style: List[int] = []
    pos = 0
    seen_text = False
    box_w = box_h = F32(0.0)     # size of the latest media box
    for i in range(n):
        d0, d1, d2 = span_draws[pos:pos + 3]
        pos += 3
        if kinds[i] == "media":
            if "/rule" in (media_refs[i] or ""):
                # table rule: deterministic thin full-width bar, stacked
                # tightly under the previous row (repeated-hsep combining
                # fodder — GraphicSegmentatorImpl.combineHorizontalSeparators)
                box_w, box_h = F32(col_w * F32(0.8)), F32(3.0)
                plan.append((_MEDIA, i, box_w, box_h, True, F32(0.0), F32(8.0)))
            elif i > 0 and kinds[i - 1] == "text" and math_score_exceeds(
                (texts[i - 1] or "").split(" ")
            ):
                # fraction bar under a formula: thin, formula-indented,
                # tight leading so the denominator stays within the P2
                # MATH_BAR lookaround (GraphicSegmentatorImpl:99-146)
                box_w, box_h = F32(90.0 + d0 * 30.0), F32(2.0 + d1 * 2.0)
                plan.append((_MEDIA, i, box_w, box_h, False, F32(30.0), F32(6.0)))
            else:
                if d2 < 0.25:
                    # separator-shaped media (thin horizontal bar; P2 HSEP role)
                    box_w, box_h = F32(col_w * F32(0.8)), F32(3.0 + d1 * 3.0)
                else:
                    box_w = F32(min(float(F32(100.0 + d0 * 300.0)), float(col_w)))
                    box_h = F32(60.0 + d1 * 140.0)
                plan.append((_MEDIA, i, box_w, box_h, True, F32(0.0), leading))
            continue

        text = texts[i] or ""
        if not text:
            continue
        # figure caption: a "fig." span right after a media span renders
        # INSIDE that media box (>=5 words fully contained -> P2 classifies
        # the graphic as CONTAINER; B7 re-attaches the caption to the media)
        if (
            i > 0 and kinds[i - 1] == "media" and text.startswith("fig.")
            and box_h >= 80.0 and box_w >= 140.0
        ):
            plan.append((_CAPTION, i))
            seen_text = True
            continue

        st = _span_style(text, texts[i - 1] if i > 0 else "", seen_text)
        if st == SMALL and seen_text and _is_pagenum_text(text):
            plan.append((_PAGENUM, i, st))
            continue
        seen_text = True
        words = [wd for wd in text.split(" ") if wd != ""]
        w0 = len(flow_words)
        for wd in words:
            flow_words.append(wd)
            flow_draw.append(pos)
            flow_style.append(st)
            pos += len(wd)
        plan.append((
            _FLOW, i, st, w0, len(flow_words),
            # bold-by-overstrike: ~4% of body spans re-render their first
            # word at the identical position (S6 overprint-dedup fodder)
            st == BODY and d0 < 0.04,
            # paragraph gap before ~35% of body spans (and after the title)
            st == HEADING or d2 < 0.35,
            # display formulas are indented (B2 only detects indented
            # line-sets, ContentGrouper.java:182 — minX >= region.x + 20)
            F32(30.0) if math_score_exceeds(words) else F32(0.0),
        ))
    bitgen.state = state
    bitgen.advance(pos)

    # ---- pass 2: every flowed word's widths, advances and gap in bulk
    word_w, advs, gaps, word_at = _flow_metrics(
        flow_words, flow_draw, flow_style, buf, sizes, char_ws
    )

    # ---- pass 3: the cursor walk. Per-char x values, plus per-run metadata
    # that one np.repeat batch expands into the char table at the end.
    xs: list = []
    run_len: List[int] = []
    run_page: List[int] = []
    run_y: list = []
    run_cw: list = []
    run_h: list = []
    run_st: List[int] = []
    run_off: List[int] = []
    run_rot: List[int] = []
    chars: List[str] = []
    media: List[MediaBox] = []

    def emit_run(page_, py, char_w_, ysize_, st_, text_, offset_, rot_=0):
        run_len.append(len(text_))
        run_page.append(page_)
        run_y.append(py)
        run_cw.append(char_w_)
        run_h.append(ysize_)
        run_st.append(st_)
        run_off.append(offset_)
        run_rot.append(rot_)
        chars.extend(text_)

    page = 0
    col = 0
    cursor_y = margin  # top of the next line box

    for entry in plan:
        kind, i = entry[0], entry[1]
        offset = int(offsets[i])
        if kind == _MEDIA:
            _, _, mw, mh, may_break, dx, gap = entry
            if may_break and cursor_y + mh > bottom:
                # column full: next column on the same page, else next page
                if two_col and col == 0:
                    col = 1
                else:
                    page, col = page + 1, 0
                cursor_y = margin
            media.append(
                MediaBox(page, float(F32(col_x0s[col] + dx)), float(cursor_y),
                         float(mw), float(mh), media_refs[i] or "", offset)
            )
            cursor_y = F32(cursor_y + mh + gap)
            continue

        text = texts[i]
        if kind == _CAPTION:
            box = media[-1]
            cap_style = styles[SMALL]
            cap_size = F32(cap_style.x_size)
            cap_h = F32(cap_style.y_size)
            cap_cw = F32(cfg.char_aspect * cap_size)
            cx = F32(box.x + F32(4.0))
            cy = F32(box.y + F32(4.0))
            for word in text.split(" "):
                if not word:
                    continue
                ww = F32(len(word) * cap_cw)
                if cx + ww > box.x + box.w - 4.0 and cx > box.x + 4.0:
                    cx = F32(box.x + F32(4.0))
                    cy = F32(cy + F32(cfg.line_leading_factor * cap_style.y_size))
                if cy + cap_h > box.y + box.h - 2.0:
                    break  # box full; remaining words dropped from render
                px = cx
                for _c in word:
                    xs.append(px)
                    px = F32(px + cap_cw)
                emit_run(box.page, cy, cap_cw, cap_h, SMALL, word, offset)
                cx = F32(px + F32(0.3 * float(cap_size)))
            continue

        st = entry[2]
        size = sizes[st]
        ysize = F32(styles[st].y_size)
        char_w = char_ws[st]
        if kind == _PAGENUM:
            # page-number analog: bottom-centre of the CURRENT page, no flow
            py = F32(page_h - F32(30.0))
            px = F32(page_w / F32(2.0))
            for _ch in text:
                xs.append(px)
                px = F32(px + char_w + F32(0.02 * size))
            emit_run(page, py, char_w, ysize, st, text, offset)
            continue

        _, _, _, w0, w1, overprint, para_break, indent = entry
        if para_break and cursor_y > margin:
            cursor_y = F32(cursor_y + leading)
        # flow the span's words into lines (within the current column)
        sx0 = F32(col_x0s[col] + indent)
        limit = col_x0s[col] + col_w
        cursor_x = sx0
        for w in range(w0, w1):
            if cursor_x + word_w[w] > limit and cursor_x > sx0:
                cursor_x = sx0
                cursor_y = F32(cursor_y + leading)
            if cursor_y + ysize > bottom:
                if two_col and col == 0:
                    col = 1
                else:
                    page, col = page + 1, 0
                cursor_y = margin
                sx0 = F32(col_x0s[col] + indent)
                limit = col_x0s[col] + col_w
                cursor_x = sx0
            # per-char advance fold in float32: a combining mark (S7
            # fodder) advances ZERO and renders on top of its base char,
            # like a PDF putting diacritics in a separate Tj element
            word = flow_words[w]
            x = cursor_x
            for a in advs[word_at[w]:word_at[w + 1]]:
                xs.append(x)
                x = x + a
            emit_run(page, cursor_y, char_w, ysize, st, word, offset)
            if overprint and w == w0:
                xs.extend(xs[-len(word):])
                emit_run(page, cursor_y, char_w, ysize, st, word, offset)
            cursor_x = F32(x + gaps[w])
        # span ends -> next span starts a new line
        cursor_y = F32(cursor_y + leading)

    # rotated watermark decoration on ~35% of docs: a word rendered with a
    # 90-degree glyph direction in the bottom margin. NOT part of any input
    # span — the S10 rotation filter must drop it (page rotation is 0), or
    # the conservation tests see hallucinated words.
    if rng.uniform() < 0.35 and seen_text:
        wm = "do not distribute".split(" ")[int(rng.integers(0, 3))]
        wy = F32(page_h - F32(12.0))
        px = F32(margin)
        cw = F32(cfg.char_aspect * styles[SMALL].x_size)
        for _c in wm:
            xs.append(px)
            px = F32(px + cw)
        emit_run(0, wy, cw, F32(styles[SMALL].y_size), SMALL, wm, 0, rot_=90)

    lens = np.asarray(run_len, dtype=np.int64)
    y = np.repeat(np.asarray(run_y, dtype=np.float32), lens)
    h = np.repeat(np.asarray(run_h, dtype=np.float32), lens)
    table = CharTable(
        page=np.repeat(np.asarray(run_page, dtype=np.int32), lens),
        x=np.asarray(xs, dtype=np.float32),
        y=y,
        w=np.repeat(np.asarray(run_cw, dtype=np.float32), lens),
        h=h,
        baseline=y + h,
        style_idx=np.repeat(np.asarray(run_st, dtype=np.int32), lens),
        offset=np.repeat(np.asarray(run_off, dtype=np.int32), lens),
        char=chars,
        rot=np.repeat(np.asarray(run_rot, dtype=np.int16), lens),
    )
    return table, media, styles


def _flow_metrics(words, first_draw, style, buf, sizes, char_ws):
    """Bulk per-word metrics of the flowed words: the float32 width the wrap
    test uses, the per-char advances (k per word: k - 1 kerned advances,
    then char_w to the word's end), the float32 word gap, and each word's
    first index into the advances. Bit-identical to drawing
    uniform(-0.05, 0.05, k - 1) and uniform(0.0, 0.08) per word: the
    kerning sum keeps the pairwise order of a 1-D float32 ``sum`` because
    words are summed as the rows of one (m, k - 1) block per length."""
    nw = len(words)
    k = np.fromiter(map(len, words), dtype=np.int64, count=nw)
    at = np.zeros(nw + 1, dtype=np.int64)
    np.cumsum(k, out=at[1:])
    total = int(at[-1])
    st = np.asarray(style, dtype=np.int64)
    size = np.asarray(sizes, dtype=np.float32)[st]
    cw = np.asarray(char_ws, dtype=np.float32)[st]
    draws = buf[np.repeat(np.asarray(first_draw, dtype=np.int64) - at[:-1], k)
                + np.arange(total)]
    last = at[1:] - 1
    jit = (-0.05 + (0.05 - -0.05) * draws).astype(np.float32) * np.repeat(size, k)
    adv = np.repeat(cw, k) + jit
    jsum = np.zeros(nw, dtype=np.float32)
    for kk in np.unique(k[k > 1]).tolist():
        sel = np.nonzero(k == kk)[0]
        jsum[sel] = jit[at[sel][:, None] + np.arange(kk - 1)].sum(axis=1)
    # numpy scalar semantics of `len(word) * char_w + jit.sum()`: the int
    # times float32 product and the sum are float64, rounded once to float32
    width = (k * cw.astype(np.float64) + jsum.astype(np.float64)).astype(np.float32)
    # a combining mark zeroes the advance INTO it; every combining class
    # starts at U+0300, so only those code points are looked up
    code = np.frombuffer(
        "".join(words).encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    )
    maybe = np.nonzero(code[1:] >= 0x300)[0]
    adv[[j for j, c in zip(maybe.tolist(), code[maybe + 1].tolist())
         if unicodedata.combining(chr(c))]] = F32(0.0)
    adv[last] = cw
    gap = ((0.28 + (0.0 + (0.08 - 0.0) * draws[last])) * size.astype(np.float64)).astype(np.float32)
    return list(width), list(adv), list(gap), at.tolist()
