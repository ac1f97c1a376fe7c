"""Property-based checks (hypothesis): the optimized kernels must equal
their naive, verbatim-reference counterparts on arbitrary inputs."""

import numpy as np
from hypothesis import given, settings, strategies as st

from pdfextract_spark.oracle.blocks import _slab_pairs, math_score_exceeds
from pdfextract_spark.oracle.regions import split_ys_by_spacing


def _naive_split_ys(region_y1, w_y, w_ey, keys, weights, same, start_y, end_y,
                    min_dist, o_y=None, o_ey=None):
    """The original 1px row scan (pre-optimization), kept as the property
    oracle for the event-based kernel."""
    n = len(w_y)
    if n == 0:
        return []
    wy = np.asarray(w_y, dtype=np.float64)
    wey = np.asarray(w_ey, dtype=np.float64)
    oy = np.asarray(o_y, dtype=np.float64) if o_y is not None else np.empty(0)
    oey = np.asarray(o_ey, dtype=np.float64) if o_ey is not None else np.empty(0)

    def dominating(idx_iter):
        ws, od, rank = {}, {}, 0
        for i in idx_iter:
            k = keys[i]
            ws[k] = ws.get(k, 0) + int(weights[i])
            if k not in od:
                od[k] = rank
            rank += 1
        if not ws:
            return None
        return max(ws, key=lambda k: (ws[k], -od[k]))

    splits, working, in_working = [], [], set()
    last = -1000.0
    y = float(np.floor(start_y))
    stop = min(float(end_y), float(region_y1))
    while y <= stop:
        row = np.nonzero((wy <= y) & (wey >= y))[0]
        occupied = row.size > 0 or bool(np.any((oy <= y) & (oey >= y)))
        if occupied:
            for i in row:
                if int(i) not in in_working:
                    in_working.add(int(i))
                    working.append(int(i))
            last = y
        elif working and (y - last) >= min_dist:
            under, y2 = None, y
            while y2 < region_y1:
                m2 = np.nonzero((wy <= y2) & (wey >= y2))[0]
                if m2.size:
                    under = m2
                    break
                if bool(np.any((oy <= y2) & (oey >= y2))):
                    break
                y2 += 1.0
            if under is not None:
                od_, ud = dominating(working), dominating(int(i) for i in under)
                if od_ is not None and ud is not None and not same(od_, ud):
                    splits.append(y)
                    working, in_working, last = [], set(), y
        y += 1.0
    return splits


word_strat = st.lists(
    st.tuples(
        st.floats(0, 300, allow_nan=False, width=32),   # y
        st.floats(1, 30, allow_nan=False, width=32),    # height
        st.sampled_from(["A", "B", "C"]),               # style
        st.integers(1, 12),                             # weight
    ),
    min_size=0,
    max_size=25,
)


@settings(max_examples=200, deadline=None)
@given(words=word_strat, min_dist=st.sampled_from([10, 20]),
       obstacles=st.lists(st.tuples(st.floats(0, 300, width=32),
                                    st.floats(1, 40, width=32)), max_size=3))
def test_event_kernel_equals_naive_row_scan(words, min_dist, obstacles):
    w_y = np.array([w[0] for w in words], dtype=np.float32)
    w_ey = np.array([w[0] + w[1] for w in words], dtype=np.float32)
    keys = [w[2] for w in words]
    weights = [w[3] for w in words]
    o_y = np.array([o[0] for o in obstacles], dtype=np.float32)
    o_ey = np.array([o[0] + o[1] for o in obstacles], dtype=np.float32)
    same = lambda a, b: a == b  # noqa: E731
    region_y1 = 340.0
    args = (region_y1, w_y, w_ey, keys, weights, same, 0.0, 340.0, min_dist)
    kw = dict(o_y=o_y, o_ey=o_ey) if obstacles else {}
    assert split_ys_by_spacing(*args, **kw) == _naive_split_ys(*args, **kw)


@settings(max_examples=200, deadline=None)
@given(
    items=st.lists(
        st.tuples(st.floats(0, 100, width=32), st.floats(1, 20, width=32),
                  st.floats(0, 100, width=32)),
        min_size=0, max_size=12,
    ),
    n_words=st.integers(0, 12),
)
def test_slab_pairs_equals_bruteforce(items, n_words):
    """Every (word, word) pair returned must be slab-adjacent with no item
    between; every adjacent word pair in some slab must be returned."""
    n_words = min(n_words, len(items))
    lo = np.array([int(np.floor(i[0])) for i in items], dtype=np.int64)
    hi = np.array([int(np.floor(i[0] + i[1])) for i in items], dtype=np.int64)
    pos = np.array([i[2] for i in items], dtype=np.float64)
    a, b = _slab_pairs(lo, hi, pos, n_words)
    got = set(zip(a.tolist(), b.tolist()))

    expect = set()
    if len(items):
        for slab in range(int(lo.min()), int(hi.max()) + 1):
            members = [i for i in range(len(items)) if lo[i] <= slab <= hi[i]]
            members.sort(key=lambda i: (pos[i], i))
            for x, y in zip(members, members[1:]):
                if x < n_words and y < n_words:
                    expect.add((x, y))
    assert got == expect


@settings(max_examples=300, deadline=None)
@given(st.lists(st.text(alphabet="ax1+=<3 ", min_size=0, max_size=6),
                min_size=0, max_size=10))
def test_math_score_matches_direct_computation(texts):
    import unicodedata

    score = sum(
        3 if unicodedata.category(c) == "Sm" else (1 if c.isdigit() else 0)
        for t in texts for c in t
    )
    chars = sum(len(t) for t in texts)
    expected = len(texts) >= 4 and score > chars
    assert math_score_exceeds(texts) == expected


# ------------------------- repeated-hsep combining (GraphicSegmentatorImpl) --

def _naive_combine_hseps(roles, m_x, m_y, m_w, m_h):
    """Verbatim transliteration of combineHorizontalSeparators:182-232:
    HashMap grouping by (int(x)/3, int(w)/3), stable sortByLowerY, distance-50
    chain with bbox union. Property oracle for combine_hsep_stacks."""
    import math

    groups = {}
    for i, r in enumerate(roles):
        if r != "hsep":
            continue
        key = (int(m_x[i]) // 3, int(m_w[i]) // 3)
        groups.setdefault(key, []).append(i)
    out = []
    for key, sep_list in groups.items():
        if len(sep_list) < 2:
            continue
        sep_list = sorted(sep_list, key=lambda i: float(m_y[i]))
        cur = [sep_list[0]]
        i0 = sep_list[0]
        bb = [float(m_x[i0]), float(m_y[i0]),
              float(m_x[i0] + m_w[i0]), float(m_y[i0] + m_h[i0])]

        def dist(a, b):
            d = np.float32(0.0)
            if a[0] > b[2]:
                d += (np.float32(a[0]) - np.float32(b[2])) ** 2
            elif b[0] > a[2]:
                d += (np.float32(b[0]) - np.float32(a[2])) ** 2
            if a[1] > b[3]:
                d += (np.float32(a[1]) - np.float32(b[3])) ** 2
            elif b[1] > a[3]:
                d += (np.float32(b[1]) - np.float32(a[3])) ** 2
            return math.sqrt(float(d))

        for j in sep_list[1:]:
            box = [float(m_x[j]), float(m_y[j]),
                   float(m_x[j] + m_w[j]), float(m_y[j] + m_h[j])]
            if dist(bb, box) > 50.0:
                out.append((cur, tuple(bb)))
                cur, bb = [j], box
            else:
                cur.append(j)
                bb = [min(bb[0], box[0]), min(bb[1], box[1]),
                      max(bb[2], box[2]), max(bb[3], box[3])]
        out.append((cur, tuple(bb)))
    return out


@given(
    st.lists(
        st.tuples(
            st.floats(0, 500, width=32), st.floats(0, 700, width=32),
            st.floats(1, 400, width=32), st.floats(1, 12, width=32),
            st.booleans(),
        ),
        min_size=0, max_size=12,
    )
)
@settings(max_examples=200, deadline=None)
def test_combine_hsep_stacks_matches_verbatim(boxes):
    from pdfextract_spark.oracle.regions import combine_hsep_stacks

    m_x = np.array([b[0] for b in boxes], dtype=np.float32)
    m_y = np.array([b[1] for b in boxes], dtype=np.float32)
    m_w = np.array([b[2] for b in boxes], dtype=np.float32)
    m_h = np.array([b[3] for b in boxes], dtype=np.float32)
    roles = ["hsep" if b[4] else "image" for b in boxes]
    got = combine_hsep_stacks(roles, m_x, m_y, m_w, m_h)
    want = _naive_combine_hseps(roles, m_x, m_y, m_w, m_h)
    norm = lambda runs: sorted((sorted(r), tuple(round(v, 3) for v in bb)) for r, bb in runs)
    assert norm(got) == norm(want)


# ------------------------------------------------- W1-W3 word segmentation

from pdfextract_spark.engine.vectorized import (  # noqa: E402
    _page_glyphs, _segment_words_page, _style_luts,
)
from pdfextract_spark.layout import CharTable  # noqa: E402
from pdfextract_spark.oracle.document import _glyphs_for_page  # noqa: E402
from pdfextract_spark.oracle.style import Style  # noqa: E402
from pdfextract_spark.oracle.words import segment_words  # noqa: E402

_PAGE_STYLES = [
    Style("Times", "", 10, 10),
    Style("Times-Bold", "", 14, 14, bold=True),   # BIG_DIFFERENCE: W1 break
    Style("Times", "", 11, 11),                   # SUBTLE: no break
    Style("Times", "", 0, 0),                     # x_size 0: font size 10
]

# a line's flavour shapes its glyphs: the first six keep the page-wide W3
# shortcut's preconditions (unless the union identity misses), "blank"
# through "h_varies" each break one and reach the per-line exact fold
_FLAVOURS = ["clean", "spaces", "multichar", "marks", "style_break", "single",
             "blank", "zero_width", "backwards", "y_varies", "h_varies"]


@st.composite
def _glyph_pages(draw):
    f = np.float32
    cols = {k: [] for k in ("x", "y", "w", "h", "baseline", "style", "char")}
    for _ in range(draw(st.integers(1, 5))):
        flavour = draw(st.sampled_from(_FLAVOURS))
        style = draw(st.integers(0, len(_PAGE_STYLES) - 1))
        y = f(draw(st.floats(20, 700, width=32)))
        # an h with low bits set makes f32(f32(y + h) - y) miss h
        h = f(draw(st.one_of(st.sampled_from([8.0, 10.0, 12.5]),
                             st.floats(5, 15, width=32))))
        # a line starting near x = 0 makes f32(x_s + f32(ex_j - x_s)) miss
        # ex_j, the union identity the page-wide shortcut relies on
        x = f(draw(st.one_of(st.floats(0, 400, width=32), st.floats(0, 2, width=32))))
        n = 1 if flavour == "single" else draw(st.integers(2, 16))
        for j in range(n):
            gx, gw, mark = x, f(draw(st.floats(3, 7, width=32))), False
            gy, gh, gst, ch = y, h, style, draw(st.sampled_from("abcdxyz1+"))
            odd = draw(st.booleans())
            if odd and flavour == "spaces":
                ch = " "
            elif odd and flavour == "multichar":
                ch = "e\u0301"  # base + mark in one glyph, as S7 merges them
            elif odd and flavour == "blank":
                ch = draw(st.sampled_from(["\t", "\xa0"]))
            elif odd and flavour == "zero_width":
                gw = f(0.0)
            elif odd and flavour == "y_varies":
                gy = f(y + f(0.5))
            elif odd and flavour == "h_varies":
                gh = f(h + f(1.0))
            elif odd and flavour == "style_break":
                gst = draw(st.integers(0, len(_PAGE_STYLES) - 1))
            elif odd and flavour == "marks" and j:
                # a combining mark: the box of the glyph before, no advance
                gx, gw, mark = cols["x"][-1], cols["w"][-1], True
            cols["x"].append(gx)
            cols["y"].append(gy)
            cols["w"].append(gw)
            cols["h"].append(gh)
            cols["baseline"].append(f(y + h))
            cols["style"].append(gst)
            cols["char"].append(ch)
            # char gap or word gap; "backwards" lines also step left, past
            # the glyph's own start (x falls) or only past its end (x rises,
            # endX falls)
            lo, hi = draw(st.sampled_from(
                [(0.0, 0.5), (2.5, 4.5)] + ([(-12.0, -0.125)] if flavour == "backwards" else [])
            ))
            if not mark:
                x = f(f(x + gw) + f(draw(st.floats(lo, hi, width=32))))
    n = len(cols["char"])
    return CharTable(
        page=np.zeros(n, dtype=np.int32),
        x=np.array(cols["x"], dtype=np.float32),
        y=np.array(cols["y"], dtype=np.float32),
        w=np.array(cols["w"], dtype=np.float32),
        h=np.array(cols["h"], dtype=np.float32),
        baseline=np.array(cols["baseline"], dtype=np.float32),
        style_idx=np.array(cols["style"], dtype=np.int32),
        char=cols["char"],
        offset=np.arange(n, dtype=np.int32),
        rot=np.zeros(n, dtype=np.int16),
    )


@settings(max_examples=300, deadline=None)
@given(table=_glyph_pages(), mode=st.sampled_from(["tuned", "legacy"]))
def test_page_wide_words_equal_oracle_segment_words(table, mode):
    mask = np.ones(len(table), dtype=bool)
    expected = segment_words(_glyphs_for_page(table, mask, _PAGE_STYLES), mode)
    _, break_lut = _style_luts(_PAGE_STYLES)
    xsize = np.array([s.x_size for s in _PAGE_STYLES], dtype=np.int64)
    got = _segment_words_page(_page_glyphs(table, mask), break_lut, xsize, mode)

    assert got.text == [g.text for g in expected]
    for name in ("x", "y", "w", "h"):
        want = np.array([getattr(g.pos, name) for g in expected], dtype=np.float32)
        assert getattr(got, name).view(np.uint32).tolist() == want.view(np.uint32).tolist(), name
    assert [_PAGE_STYLES[s] for s in got.style.tolist()] == [g.style for g in expected]
    assert got.origin.tolist() == [g.origin for g in expected]


# ---------------------------------------- layout: bulk per-word draws

from pdfextract_spark.layout import _flow_metrics  # noqa: E402


@settings(max_examples=200, deadline=None)
@given(
    # word lengths uniform up to 40: a width differs between the pairwise
    # and a sequential kerning sum for ~1 % of words of 9+ chars
    words=st.lists(
        st.integers(1, 40).flatmap(lambda k: st.text(
            alphabet="abx\u00e9\u0301\u0327", min_size=k, max_size=k)),
        min_size=1, max_size=30),
    data=st.data(),
)
def test_bulk_word_metrics_equal_per_word_draws(words, data):
    """The tokenizer's bulk widths, advances and gaps equal what drawing
    uniform(-0.05, 0.05, k - 1) and uniform(0.0, 0.08) per word gives,
    including the pairwise order of the float32 kerning sum (k >= 8)."""
    f = np.float32
    sizes = [f(10), f(14), f(8)]
    char_ws = [f(0.5 * s) for s in sizes]
    styles = data.draw(st.lists(st.integers(0, 2), min_size=len(words),
                                max_size=len(words)))
    first, pos = [], 3
    for wd in words:
        first.append(pos)
        pos += len(wd) + data.draw(st.integers(0, 4))
    buf = np.random.default_rng(data.draw(st.integers(0, 2**32))).random(pos)
    width, adv, gap, at = _flow_metrics(words, first, styles, buf, sizes, char_ws)

    import unicodedata

    for i, wd in enumerate(words):
        size, cw, k = sizes[styles[i]], char_ws[styles[i]], len(wd)
        jit = (-0.05 + 0.1 * buf[first[i]:first[i] + k - 1]).astype(np.float32) * size
        assert f(len(wd) * cw + (jit.sum() if len(jit) else f(0.0))) == width[i]
        assert f((0.28 + 0.08 * float(buf[first[i] + k - 1])) * float(size)) == gap[i]
        walk = np.empty(k + 1, dtype=np.float32)
        walk[0] = f(13.7)
        walk[1:k] = cw + jit
        walk[1:k][[unicodedata.combining(c) != 0 for c in wd[1:]]] = f(0.0)
        walk[k] = cw
        x, xs = f(13.7), []
        for a in adv[at[i]:at[i + 1]]:
            xs.append(x)
            x = x + a
        assert np.array(xs + [x], dtype=np.float32).tobytes() == np.cumsum(walk).tobytes()
