"""Render one page of one document as an SVG debug overlay (S17 analog —
reference renderer/PageRenderer.java, gated off by default exactly like the
reference's Constants.java RENDER_* flags: nothing calls this except a human
debugging P3/P4 (whitespace cover / column boundary) regressions).

Usage: python tools/render_page.py <doc_id> [page] [sf_dir] [out.svg]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def structures_for_page(doc_id: str, spans, page: int, cfg):
    """Pure-Python path: tokenize + filter + analyze ONE page; returns
    render_page_svg inputs. `spans` is the collected spans array (list of
    Row/dict with kind/text/media_ref/offset)."""
    from pdfextract_spark.engine.vectorized import prepare_document
    from pdfextract_spark.operators.extract import _spans_to_lists
    from pdfextract_spark.render import page_structures_for_render

    doc = prepare_document(doc_id, *_spans_to_lists(spans), cfg)
    t, paragraphs, bounds, blocks, _captions = doc.analyze_page(page, cfg, "tuned")
    return page_structures_for_render(
        t, paragraphs, bounds, blocks, doc.media_by_page.get(page, [])
    )


def main(doc_id: str, page: int, sf_dir: str, out: str) -> None:
    from pyspark.sql import SparkSession, functions as F

    from pdfextract_spark.config import CONFIG as cfg
    from pdfextract_spark.render import render_page_svg
    from pdfextract_spark.sources.adapters import documents_to_interleaved

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("render-page")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    row = (
        documents_to_interleaved(spark.read.parquet(f"{sf_dir}/documents.parquet"))
        .filter(F.col("doc_id").cast("string") == doc_id)
        .head()
    )
    if row is None:
        raise SystemExit(f"doc_id {doc_id} not found in {sf_dir}")
    svg = render_page_svg(*structures_for_page(doc_id, row["spans"], page, cfg))
    with open(out, "w") as f:
        f.write(svg)
    print(f"wrote {out} ({len(svg)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main(
        sys.argv[1] if len(sys.argv) > 1 else "1",
        int(sys.argv[2]) if len(sys.argv) > 2 else 0,
        sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.001",
        sys.argv[4] if len(sys.argv) > 4 else "/tmp/page.svg",
    )
