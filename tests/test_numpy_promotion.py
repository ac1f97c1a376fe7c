"""The engine's output does not depend on NumPy's scalar promotion rule.

NumPy 1.x promotes ``int * np.float32`` to float64 ("legacy"); NumPy 2 keeps
it float32 (NEP 50, "weak"). ``layout.py`` multiplies Python ints by float32
scalars, so a drift would move glyphs and every frozen fixture. This test
recomputes the tokenizer digests and an engine sample (with word boxes)
under both rules and requires them to agree.
"""

from contextlib import contextmanager

import numpy as np
import pytest

from pdfextract_spark.corpus import generate, make_doc
from pdfextract_spark.engine import extract_document_fast

from test_layout_digest import _EXPECTED, _INPUTS, _digest

pytestmark = pytest.mark.skipif(
    not hasattr(np, "_set_promotion_state"),
    reason="this NumPy has one promotion rule only",
)


@contextmanager
def _promotion(state):
    old = np._get_promotion_state()
    np._set_promotion_state(state)
    try:
        yield
    finally:
        np._set_promotion_state(old)


def _engine_sample():
    docs = [*generate(12, seed=7, skew_frac=0.0), make_doc(5, 123456, skew=True)]
    return [
        extract_document_fast(
            doc_id, [s["kind"] for s in spans], [s["text"] for s in spans],
            [s["media_ref"] for s in spans], [s["offset"] for s in spans],
            emit_words=True,
        )
        for doc_id, spans in docs
    ]


def test_weak_promotion_keeps_digests_and_engine_output():
    with _promotion("legacy"):
        legacy = _engine_sample()
    with _promotion("weak"):
        digests = {name: _digest(make()) for name, make in _INPUTS.items()}
        weak = _engine_sample()
    assert digests == _EXPECTED
    assert weak == legacy
