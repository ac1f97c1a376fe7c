"""Page-parallel extraction must produce byte-identical output to the
narrow per-document operator — including on oversized (skew) documents,
which are its reason to exist."""

import numpy as np
import pandas as pd
import pytest

from pdfextract_spark.config import CONFIG
from pdfextract_spark.corpus import generate, make_doc
from pdfextract_spark.engine import extract_document_fast
from pdfextract_spark.operators.extract import extract_batch, extract_spans
from pdfextract_spark.operators.extract_paged import (
    _pack, _stage_a, _stage_b, _stage_c, _unpack, extract_spans_paged,
)

SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)
COLS = ("kind", "text", "media_ref", "offset", "page", "para", "style_ref")


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = []
    for doc_id, spans in generate(16, seed=55, skew_frac=0.25):  # 4 skew docs
        rows.append(
            (doc_id, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
        )
    return spark.createDataFrame(rows, SCHEMA)


def _key(df):
    return {(r["doc_id"], r["seq"]): tuple(r[c] for c in COLS) for r in df.collect()}


def test_paged_equals_narrow(spark, docs_df):
    narrow = _key(extract_spans(docs_df))
    paged = _key(extract_spans_paged(docs_df, page_partitions=12))
    assert set(narrow) == set(paged)
    diffs = [(k, narrow[k], paged[k]) for k in narrow if narrow[k] != paged[k]]
    assert not diffs, diffs[:5]


# ------------------------------------------------------------ in-process


def _in_process(docs, with_words):
    """Stages A -> B -> C without Spark; each doc's rows reach stage C in
    reverse page order, as a shuffle may deliver them."""
    pdf = pd.DataFrame({"doc_id": [d for d, _ in docs], "spans": [s for _, s in docs]})
    frames = list(_stage_a(iter([pdf]), CONFIG))
    assert len(frames) == len(docs)  # one frame per document
    structure = pd.concat(list(_stage_b(iter(frames), CONFIG, "tuned")))
    return frames, {
        doc_id: _stage_c((doc_id,), group.iloc[::-1], CONFIG, with_words)
        for doc_id, group in structure.groupby("doc_id")
    }


def _skew_docs():
    """Multi-page skew docs; one gets a run of media spans (a media-only
    page) and a combining mark (a two-codepoint glyph after S7)."""
    docs = [make_doc(5, i, skew=True) for i in (1, 2)]
    doc_id, spans = docs[0]
    extra = [{"kind": "text", "text": "café résumé",
              "media_ref": "", "offset": 0}]
    extra += [{"kind": "media", "text": "", "media_ref": f"img{i}", "offset": 0}
              for i in range(12)]
    spans = spans[:40] + extra + spans[40:]
    docs[0] = (doc_id, [dict(s, offset=i) for i, s in enumerate(spans)])
    return docs


@pytest.mark.parametrize("with_words", [False, True])
def test_stages_in_process_equal_engine(with_words):
    docs = _skew_docs()
    frames, out = _in_process(docs, with_words)

    pages = [_unpack(p) for f in frames for p in f["payload"]]
    assert any(len(c["x"]) == 0 and len(c["mx"]) for c in pages), "no media-only page"
    assert any(len(c["x"]) and len(c["mx"]) == 0 for c in pages), "no page without media"
    assert any(len(ch) > 1 for c in pages for ch in c["char"]), "no merged combining mark"

    for doc_id, spans in docs:
        exp = extract_document_fast(
            doc_id, [s["kind"] for s in spans], [s["text"] for s in spans],
            [s["media_ref"] for s in spans], [s["offset"] for s in spans],
            emit_words=with_words,
        )
        got = out[doc_id]
        assert got["seq"].tolist() == [s.seq for s in exp]
        for col in COLS:
            assert got[col].tolist() == [getattr(s, col) for s in exp], (doc_id, col)
        if with_words:
            assert [[tuple(w.values()) for w in ws] for ws in got["words"]] == [
                list(s.words) for s in exp
            ]


def test_payload_keeps_float32_bits():
    bits = np.array([0x80000000, 0x00000001, 0x007FFFFF, 0x3F800001], dtype=np.uint32)
    values = bits.view(np.float32)  # -0.0, two subnormals, 1 + ulp
    cols = _unpack(_pack({"x": values, "s": ["é", ""], "empty": []}))
    assert cols["x"].dtype == np.float32
    assert cols["x"].view(np.uint32).tolist() == bits.tolist()
    assert cols["s"] == ["é", ""] and cols["empty"] == []


@pytest.mark.parametrize("with_words", [False, True])
def test_bad_span_quarantined_in_process(with_words):
    doc_id, spans = make_doc(5, 3, skew=True)
    spans = [dict(s) for s in spans]
    spans[17]["offset"] = None
    _, out = _in_process([(doc_id, spans)], with_words)
    narrow = extract_batch(pd.DataFrame({"doc_id": [doc_id], "spans": [spans]}))
    got = out[doc_id]
    assert len(got) == 1 and got["kind"].iloc[0] == "error"
    assert got["text"].iloc[0].startswith("TypeError")
    for col in ("seq",) + COLS:
        assert got[col].tolist() == narrow[col].tolist(), col
    if with_words:
        assert got["words"].tolist() == [[]]
