"""Generate the flagship correctness fixture: oracle-expected span sequences.

Runs the REAL Spark adapter (sources/adapters.documents_to_interleaved) over
the driver's documents table, then the sequential Python oracle
(oracle/document.extract_document — the independent reference implementation,
NOT the vectorized engine) per document, and writes the expected
(doc_id, seq, kind, text, media_ref, offset) rows to
fixtures/expected_spans_sf<sf>.parquet.

This converts the engine's strongest claim — span-sequence equality with the
oracle (reference contract: SimpleXMLOutput.java:77-242 line-text equality) —
into the driver's hard CORRECTNESS signal: queries.q_extract_pipeline runs the
vectorized engine, its oracle_sql reads this fixture, and the driver
hash-compares the two.

The tool also cross-checks the fixture against the vectorized engine before
writing, so a stale or divergent fixture can never be committed silently.

Usage: python tools/gen_expected_spans.py [sf ...]   (default: 0.01)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")


def expected_for_sf(spark, sf_dir: str) -> pd.DataFrame:
    from pdfextract_spark.engine.vectorized import spans_frame
    from pdfextract_spark.oracle.document import extract_document
    from pdfextract_spark.sources.adapters import documents_to_interleaved

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    inter = documents_to_interleaved(docs).toPandas()
    return spans_frame([
        (doc_id, extract_document(
            doc_id,
            [s["kind"] for s in spans],
            [s["text"] for s in spans],
            [s["media_ref"] for s in spans],
            [int(s["offset"]) for s in spans],
            emit_words=True,
        ))
        for doc_id, spans in zip(inter["doc_id"], inter["spans"])
    ], with_words=True)


def _norm_words(cell) -> tuple:
    """Canonical tuple form for a words cell (list of dicts OR Spark Rows)."""
    return tuple(
        (d["value"], d["style_ref"], int(d["x"]), int(d["y"]),
         int(d["w"]), int(d["h"]))
        for d in cell
    )


def main(sfs) -> int:
    from pyspark.sql import SparkSession

    from pdfextract_spark.operators.extract import extract_spans
    from pdfextract_spark.sources.adapters import documents_to_interleaved

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("gen-expected-spans")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    rc = 0
    for sf in sfs:
        sf_dir = f"/root/testdata/sf{sf}"
        exp = expected_for_sf(spark, sf_dir).sort_values(["doc_id", "seq"]).reset_index(drop=True)

        # cross-check: the vectorized engine must agree span-for-span,
        # including the VERBOSE word boxes (Rows vs dicts -> canonical tuples)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        got = (
            extract_spans(documents_to_interleaved(docs), with_words=True)
            .toPandas()
            .sort_values(["doc_id", "seq"])
            .reset_index(drop=True)
        )
        flat = [c for c in exp.columns if c != "words"]
        words_match = (
            len(got) == len(exp)
            and all(
                _norm_words(a) == _norm_words(b)
                for a, b in zip(got["words"], exp["words"])
            )
        )
        if not got[flat].equals(exp[flat]) or not words_match:
            print(f"sf{sf}: ENGINE != ORACLE — fixture NOT written")
            print(f"  engine rows={len(got)} oracle rows={len(exp)}; "
                  f"words_match={words_match}")
            if len(got) == len(exp):
                bad = (got[flat] != exp[flat]).any(axis=1)
                print(got[bad].head(5))
                print(exp[bad].head(5))
            rc = 1
            continue

        path = os.path.join(FIXTURE_DIR, f"expected_spans_sf{sf}.parquet")
        exp.to_parquet(path, index=False)
        print(f"sf{sf}: wrote {len(exp)} expected spans -> {path}")
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or ["0.01"]))
