"""Soak the checkpointed bucket pipeline at a realistic bucket count:
replicate the sf0.1 corpus (default 20x, ~100k docs), run run_extraction
with concurrent bucket submission, and report throughput + manifest
integrity. Prints one JSON line.

Skew mode (skew_repeat > 0) is the straggler-tail experiment from the
round-2 verdict (task #2): ~0.1% of documents are amplified to
skew_repeat x spans (well past cfg.oversize_span_threshold), so
run_extraction routes them through the page-parallel operator
(operators/extract_paged.py: the doc fans out over (doc_id, page)). The
manifest's per-bucket walls report the bucket-wall tail (max/median), and
manifest == disk is checked. The whole-doc comparison for the oversized
band is perfbench's `whole.band_s`.

Usage: python tools/soak_pipeline.py [sf_dir] [repl] [n_buckets] [skew_repeat]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# ~0.1% of docs amplified in skew mode. PRIME on purpose: selection uses the
# same xxhash64(doc_id) as bucket assignment, so a modulus sharing a factor
# with n_buckets correlates them — at 1000 (divisible by 8) every skew doc
# satisfied h % 1000 == 0 => h % 8 == 0 and ALL monsters piled into bucket 0,
# which measures adversarial concentration, not routing.
SKEW_EVERY = 997


def _bucket_wall_stats(spark, out: str) -> dict:
    from pdfextract_spark.pipeline import read_manifest

    import statistics

    m = read_manifest(spark, out)
    walls = sorted(float(r.wall_s) for r in m.select("wall_s").collect())
    return {
        "max": round(walls[-1], 1),
        "median": round(statistics.median(walls), 1),
        "mean": round(statistics.mean(walls), 1),
        "stdev": round(statistics.pstdev(walls), 1),
        "all": [round(w, 1) for w in walls],
    }


def _run(spark, staged, n_buckets: int, cpus: int) -> dict:
    from pdfextract_spark.pipeline import metrics_summary, run_extraction

    out = tempfile.mkdtemp(prefix="soak_out_")
    try:
        t0 = time.perf_counter()
        res = run_extraction(
            spark, staged, out, n_buckets=n_buckets, parallelism=cpus,
            concurrency=int(os.environ.get("SOAK_CONCURRENCY", "4")),
        )
        wall = time.perf_counter() - t0
        manifest = json.loads(metrics_summary(spark, out))
        n_span_rows = spark.read.parquet(os.path.join(out, "spans")).count()
        return {
            "wall_s": round(wall, 1),
            "manifest": manifest,
            "span_rows_on_disk": n_span_rows,
            "manifest_matches_disk": n_span_rows == manifest["spans"],
            "bucket_walls": _bucket_wall_stats(spark, out),
            "buckets_done": len(res.buckets_done),
            "errors": res.total_errors,
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)


def main(sf_dir: str, repl: int, n_buckets: int, skew_repeat: int = 0) -> None:
    from pyspark.sql import SparkSession, functions as F

    from pdfextract_spark.pipeline import with_bucket
    from pdfextract_spark.sources.adapters import documents_to_interleaved

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pipeline-soak")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.environ["PYTHONPATH"] = (
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        + os.pathsep
        + os.environ.get("PYTHONPATH", "")
    )

    inter = documents_to_interleaved(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    amp = (
        inter.repartition(cpus * 4)
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(repl - 1))).alias("rep"),
            "doc_id",
            "spans",
        )
        .select(F.concat_ws("#", "doc_id", "rep").alias("doc_id"), "spans")
    )

    n_skew = 0
    if skew_repeat > 0:
        is_skew = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(SKEW_EVERY)) == 0
        rep = F.flatten(F.array_repeat(F.col("spans"), skew_repeat))
        renum = F.transform(
            rep,
            lambda s, i: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        )
        amp = amp.withColumn("spans", F.when(is_skew, renum).otherwise(F.col("spans")))
        n_skew = amp.filter(is_skew).count()

    # deployment-shaped staging: ONE pass assigns buckets and writes a
    # bucket-partitioned table (the Iceberg bucket(doc_id, N) analog); the
    # per-bucket jobs then read with partition PRUNING instead of re-scanning
    # the whole corpus once per bucket
    staging = tempfile.mkdtemp(prefix="soak_staging_")
    t_stage = time.perf_counter()
    with_bucket(amp, n_buckets).write.mode("overwrite").partitionBy(
        "doc_bucket"
    ).parquet(staging)
    stage_s = time.perf_counter() - t_stage
    staged = spark.read.parquet(staging)
    n_docs = staged.count()

    result = {
        "n_docs": n_docs,
        "n_buckets": n_buckets,
        "skew_repeat": skew_repeat,
        "n_skew_docs": n_skew,
        "staging_write_s": round(stage_s, 1),
    }
    try:
        v = _run(spark, staged, n_buckets, cpus)
        v["docs_per_sec"] = round(n_docs / v["wall_s"], 1)
        result.update(v)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main(
        sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1",
        int(sys.argv[2]) if len(sys.argv) > 2 else 20,
        int(sys.argv[3]) if len(sys.argv) > 3 else 64,
        int(sys.argv[4]) if len(sys.argv) > 4 else 0,
    )
