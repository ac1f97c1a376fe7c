#!/usr/bin/env python
"""Cluster entry point: checkpointed extraction via spark-submit --py-files.

    python tools/make_pyfiles.py                       # builds dist/pdfextract_spark.zip
    spark-submit --py-files dist/pdfextract_spark.zip \\
        jobs/extract_job.py \\
        --input  /path/to/documents.parquet \\
        --output /path/to/out \\
        [--adapter]            # input is (doc_id, text) — adapt to interleaved
        [--n-buckets 256] [--parallelism 512]

Resumable: rerunning after a failure completes only the missing buckets
(pipeline.run_extraction's manifest anti-join). --output may be any path
Hadoop resolves (hdfs://, s3a://, file:// or local): the per-bucket commit
goes through that path's FileSystem. On a real cluster the input
is the Iceberg documents table and the output is an Iceberg table partitioned
by bucket(doc_id, N); this sandbox uses parquet with the same layout."""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--adapter", action="store_true",
                    help="input is a flat (doc_id, text) table; adapt it")
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--parallelism", type=int, default=0)
    args = ap.parse_args()

    spark = SparkSession.builder.appName("pdfextract-spark").getOrCreate()
    # imports AFTER the session exists so --py-files zips resolve on executors
    from pdfextract_spark.pipeline import run_extraction
    from pdfextract_spark.sources.adapters import documents_to_interleaved

    par = args.parallelism or spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(args.input)
    if args.adapter:
        docs = documents_to_interleaved(docs)
    result = run_extraction(
        spark, docs, args.output, n_buckets=args.n_buckets, parallelism=par
    )
    print(json.dumps({
        "buckets_done": result.buckets_done,
        "buckets_skipped": result.buckets_skipped,
        "total_docs": result.total_docs,
        "total_spans": result.total_spans,
        "total_errors": result.total_errors,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
