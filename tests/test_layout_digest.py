"""Pin the synthetic-geometry tokenizer byte for byte.

The oracle and the vectorized engine both call ``layout.layout_document``, so
an engine==oracle parity test cannot see a drift in it: both sides would
drift together. These digests hash every ``CharTable`` array's bytes, the
glyph strings, the media boxes and the style dim the tokenizer returns, for
the same inputs the parity tests use. They were computed before the
tokenizer's random draws were batched; any change to its output changes them.
"""

import hashlib

import numpy as np
import pytest

from pdfextract_spark.corpus import generate, make_doc
from pdfextract_spark.layout import layout_document

_TABLE_FIELDS = ("page", "x", "y", "w", "h", "baseline", "style_idx", "offset", "rot")

# the edge documents of tests/test_engine_parity.py
_EDGE_DOCS = [
    ("empty", []),
    ("media_only", [
        {"kind": "media", "text": "", "media_ref": "img://m/0", "offset": 0},
    ]),
    ("one_word", [
        {"kind": "text", "text": "Hello", "media_ref": "", "offset": 0},
    ]),
    ("spaces", [
        {"kind": "text", "text": "  double  spaced  ", "media_ref": "", "offset": 0},
    ]),
    ("pagenum_only", [
        {"kind": "text", "text": "Title Here", "media_ref": "", "offset": 0},
        {"kind": "text", "text": "7", "media_ref": "", "offset": 1},
    ]),
]


def _digest(docs) -> str:
    h = hashlib.sha256()
    for doc_id, spans in docs:
        spans = sorted(spans, key=lambda s: s["offset"])
        table, media, styles = layout_document(
            doc_id,
            [s["kind"] for s in spans],
            [s["text"] for s in spans],
            [s["media_ref"] for s in spans],
            [s["offset"] for s in spans],
        )
        h.update(doc_id.encode())
        for name in _TABLE_FIELDS:
            arr = np.ascontiguousarray(getattr(table, name))
            h.update(f"{name}:{arr.dtype.str}:{arr.size}".encode())
            h.update(arr.tobytes())
        h.update("\x00".join(table.char).encode("utf-8", "surrogatepass"))
        # repr of a Python float is exact, so this pins the box geometry bits
        h.update(repr([
            (m.page, m.x, m.y, m.w, m.h, m.media_ref, m.offset) for m in media
        ]).encode())
        h.update(repr(styles).encode())
    return h.hexdigest()


_INPUTS = {
    "seed3": lambda: generate(60, seed=3, skew_frac=0.0),
    "seed11": lambda: generate(60, seed=11, skew_frac=0.0),
    "seed42": lambda: generate(60, seed=42, skew_frac=0.0),
    "skewed": lambda: [make_doc(5, 123456, skew=True)],
    "edge": lambda: _EDGE_DOCS,
}

_EXPECTED = {
    "seed3": "6b6e42f77be4661a7c7aa657ad4842dc172bebe6407295617c0834f99c66737c",
    "seed11": "bc9010d2df4d791bcce5c03099ac6adf0e1df022e5098154f5a4a12547ff945c",
    "seed42": "cf567e07065b419968e17df9248e03fda29cc85f9a7161fbd6eed15251650011",
    "skewed": "42d7ec043281c8be2f907a2121f9e12b2a13ac98eea4b2cecdac31f61d61f572",
    "edge": "e4649a6ec47544deac21c7bf3a5b769cc5e685b9b5db3e8ed85df26c0b96e7f5",
}


@pytest.mark.parametrize("name", sorted(_INPUTS))
def test_layout_digest_is_pinned(name):
    assert _digest(_INPUTS[name]()) == _EXPECTED[name]
