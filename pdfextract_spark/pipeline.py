"""Production extraction pipeline: partitioning, per-bucket commit, resume.

Design for 10^12 documents (north rule):

- **Unit of work = bucket.** `doc_bucket = pmod(xxhash64(doc_id), n_buckets)`.
  Buckets are the checkpoint/lineage grain. ONE Spark write stages a
  bucket's rows split on `kind == 'error'`; the driver renames the halves to
  `spans/bucket=<b>/` and `quarantine/bucket=<b>/`, then commits the one-row
  `manifest/bucket-<b>.parquet` (bucket, n_docs, n_spans, n_errors, wall_s,
  ts) by temp file + rename. Every file-system step goes through the
  Hadoop FileSystem of the output path, so hdfs:// and s3a:// outputs
  commit where Spark writes. Resume skips the buckets with a readable
  manifest file; any other bucket reruns and replaces what it left on disk.
  On a real deployment the same layout maps 1:1 onto an Iceberg table
  partitioned by `bucket(doc_id, N)` with snapshot-per-bucket commits; the
  sandbox has no Iceberg runtime, so the layout is parquet dirs + a parquet
  manifest, same semantics.

- **Skew (size banding).** A ~0.1% band of ~100x documents would make one
  Arrow batch and one task stall its whole partition. Documents above
  `oversize_span_threshold` spans go through the page-parallel operator
  (operators/extract_paged.py), which fans a huge document out over
  (doc_id, page); a per-bucket probe leaves that plan out when the band is
  empty.

- **Quarantine.** Per-doc failures inside the UDFs become `kind='error'`
  rows (TextExtractor.java:124-131 analog); they land in `quarantine/` and
  are counted in the manifest — a task never fails on a malformed document.

- **Metrics.** The manifest doubles as the extraction-metrics table:
  docs/sec per bucket, error rates, span counts — queryable with plain SQL.
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import List, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import IntegralType

from .config import CONFIG, EngineConfig
from .operators.extract import extract_spans
from .operators.extract_paged import extract_spans_paged

MANIFEST_SCHEMA = pa.schema([
    ("bucket", pa.int32()),
    ("n_docs", pa.int64()),
    ("n_spans", pa.int64()),
    ("n_errors", pa.int64()),
    ("wall_s", pa.float64()),
    ("ts", pa.string()),
])


@dataclass
class PipelineResult:
    buckets_done: List[int]
    buckets_skipped: List[int]
    total_docs: int
    total_spans: int
    total_errors: int


def with_bucket(documents: DataFrame, n_buckets: int) -> DataFrame:
    """Assign the bucket column — unless the input already carries one.

    A pre-bucketed input (the Iceberg `bucket(doc_id, N)`-partitioned table,
    or a parquet staging dir written with partitionBy('doc_bucket')) lets
    each per-bucket job prune to its own partition instead of re-scanning
    the whole corpus once per bucket — the difference between O(corpus) and
    O(corpus x n_buckets) total scan work in run_extraction.

    A pre-existing column is VALIDATED before being trusted: a document whose
    doc_bucket is null, not an integer, or outside range(n_buckets) matches
    no `doc_bucket == b` in run_extraction and would silently never be
    extracted — so such an assignment is recomputed. The check is one cheap
    min/max/null-count aggregate over a partition column (metadata-sized on
    a partitioned staging table); a non-integral column is recomputed
    without it."""
    if "doc_bucket" in documents.columns:
        if isinstance(documents.schema["doc_bucket"].dataType, IntegralType):
            lo, hi, nulls = documents.agg(
                F.min("doc_bucket"), F.max("doc_bucket"),
                F.count(F.when(F.col("doc_bucket").isNull(), 1)),
            ).first()
            if hi is not None and not nulls and 0 <= lo and hi < n_buckets:
                return documents
        documents = documents.drop("doc_bucket")
    return documents.withColumn(
        "doc_bucket", F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(n_buckets))
    )


def write_bucketed_spans(
    spans: DataFrame, table: str, n_buckets: int = 64
) -> None:
    """Persist extraction output as a bucket(doc_id)-clustered, sorted table.

    Downstream training-data joins are all doc_id-keyed (spans x embeddings
    x quality scores x dedup verdicts); with both sides bucketed on doc_id
    the join plan has ZERO Exchange — `Bucketed: true` scans feed the
    SortMergeJoin directly (proved in tests/test_bucketed_join.py and
    PLANS.md). On Iceberg this is `bucket(doc_id, N)` partitioning with
    storage-partitioned joins; the Spark bucketed table is the sandbox
    equivalent."""
    (
        spans.write.bucketBy(n_buckets, "doc_id")
        .sortBy("doc_id")
        .mode("overwrite")
        .saveAsTable(table)
    )


class _OutputFS:
    """The Hadoop FileSystem that `output_path` resolves to, so the driver's
    existence checks, deletes, renames and manifest writes land where Spark's
    writes do (hdfs://, s3a://, file:// or a bare local path)."""

    def __init__(self, spark: SparkSession, root: str):
        self._path = spark._jvm.org.apache.hadoop.fs.Path
        self._fs = self._path(root).getFileSystem(spark._jsc.hadoopConfiguration())

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._path(path))

    def delete(self, path: str) -> None:
        self._fs.delete(self._path(path), True)

    def rename(self, src: str, dst: str) -> None:
        """Move `src` to `dst`, replacing whatever is at `dst`. HDFS's rename
        does not overwrite, so `dst` is deleted first: a crash in between
        leaves `dst` absent, never half-written."""
        self.delete(dst)
        self._fs.mkdirs(self._path(dst).getParent())
        if not self._fs.rename(self._path(src), self._path(dst)):
            raise IOError(f"rename {src} -> {dst} failed")

    def write_parquet(self, path: str, table: pa.Table) -> None:
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink)
        stream = self._fs.create(self._path(path), True)
        try:
            stream.write(bytearray(sink.getvalue().to_pybytes()))
        finally:
            stream.close()


def read_manifest(spark: SparkSession, output_path: str) -> Optional[DataFrame]:
    """The committed manifest rows; None only when `manifest/` does not
    exist. An unreadable manifest file is skipped: its bucket is uncommitted."""
    path = f"{output_path}/manifest"
    if not _OutputFS(spark, output_path).exists(path):
        return None
    return (
        spark.read.schema(from_arrow_schema(MANIFEST_SCHEMA))
        .option("ignoreCorruptFiles", "true")
        .parquet(path)
    )


def completed_buckets(spark: SparkSession, output_path: str) -> List[int]:
    m = read_manifest(spark, output_path)
    if m is None:
        return []
    return [int(r.bucket) for r in m.select("bucket").distinct().collect()]


def _commit_manifest(fs: _OutputFS, output_path: str, row: dict) -> None:
    """Publish one bucket's manifest row. The temp name starts with '.' and
    does not end in '.parquet', so Spark and suffix-matching readers skip a
    leftover one; the rename is the bucket's commit point."""
    tmp = f"{output_path}/manifest/.bucket-{row['bucket']}.tmp"
    fs.write_parquet(tmp, pa.Table.from_pylist([row], schema=MANIFEST_SCHEMA))
    fs.rename(tmp, f"{output_path}/manifest/bucket-{row['bucket']}.parquet")


def run_extraction(
    spark: SparkSession,
    documents: DataFrame,
    output_path: str,
    n_buckets: int = 16,
    cfg: EngineConfig = CONFIG,
    parallelism: int = 32,
    concurrency: int = 4,
) -> PipelineResult:
    """Checkpointed, resumable extraction of the interleaved documents table.

    Idempotent: rerunning after any failure completes only the missing
    buckets. Output layout:
      output_path/spans/bucket=<b>/*.parquet       extracted spans
      output_path/quarantine/bucket=<b>/*.parquet  kind='error' rows
      output_path/manifest/bucket-<b>.parquet      lineage + metrics

    `concurrency` buckets are submitted at once from a driver thread pool:
    Spark's scheduler interleaves their stages, so the cluster never idles in
    one bucket's tail while the next waits. Buckets share no files.

    Per bucket, the probe job counts the input documents, so `n_docs`
    includes documents that yield no rows; the write's Observation gives
    `n_spans` and `n_errors`."""
    fs = _OutputFS(spark, output_path)
    done = set(completed_buckets(spark, output_path))
    docs = with_bucket(documents, n_buckets)
    staging_root = f"{output_path}/_staging"

    buckets_skipped = [b for b in range(n_buckets) if b in done]
    todo = [b for b in range(n_buckets) if b not in done]

    def process_bucket(b: int):
        t0 = time.perf_counter()
        spark.sparkContext.setJobDescription(f"extract bucket={b}")
        bucket_docs = docs.filter(F.col("doc_bucket") == b).drop("doc_bucket")
        # size(null) is null under ANSI: a null `spans` must fall in exactly
        # one band (the narrow one, which quarantines it)
        oversized = (F.coalesce(F.size("spans"), F.lit(0))
                     > cfg.oversize_span_threshold)
        n_docs, n_big = bucket_docs.agg(
            F.count(F.lit(1)), F.count(F.when(oversized, 1))
        ).first()
        spans = extract_spans(bucket_docs.filter(~oversized), cfg,
                              num_partitions=parallelism)
        if n_big:
            # no more stage-A tasks than oversized docs: an empty Python
            # task still pays the worker's per-task setup. The paged band
            # comes first in the union, so the final stage schedules its
            # stage-C tasks (the bucket's critical path) before the regular
            # documents' tasks instead of queueing them behind those.
            spans = extract_spans_paged(
                bucket_docs.filter(oversized), cfg,
                page_partitions=parallelism * 2,
                doc_partitions=min(parallelism, n_big),
            ).unionByName(spans)
        # observed in the write's result stage, so a retried map stage cannot
        # count a row twice. The write runs inside the extraction tasks
        # (`parallelism` for the small band, page_partitions for the paged
        # band's stage C) and leaves one file per task and half.
        obs = Observation(f"bucket={b}")
        staging = f"{staging_root}/bucket={b}"
        (
            spans.observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.count(F.when(F.col("kind") == "error", 1)).alias("errors"),
            )
            .withColumn("quarantined", F.col("kind") == "error")
            .write.mode("overwrite").partitionBy("quarantined").parquet(staging)
        )
        n_rows, n_errors = obs.get["rows"], obs.get["errors"]

        for flag, name in (("false", "spans"), ("true", "quarantine")):
            src = f"{staging}/quarantined={flag}"
            dst = f"{output_path}/{name}/bucket={b}"
            if fs.exists(src):
                fs.rename(src, dst)
                continue
            fs.delete(dst)
            if name == "spans":
                # partitionBy writes nothing for an empty half; keep the
                # bucket's spans dir readable with the output schema
                fs.write_parquet(f"{dst}/part-empty.parquet",
                                 to_arrow_schema(spans.schema).empty_table())

        row = {
            "bucket": b, "n_docs": n_docs, "n_spans": n_rows - n_errors,
            "n_errors": n_errors, "wall_s": round(time.perf_counter() - t0, 3),
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        _commit_manifest(fs, output_path, row)
        return row

    with ThreadPoolExecutor(max_workers=max(1, min(concurrency, len(todo)))) as ex:
        rows = list(ex.map(process_bucket, todo))
    # only Spark's marker files and leftovers of crashed attempts remain here
    fs.delete(staging_root)

    return PipelineResult(
        buckets_done=[r["bucket"] for r in rows],
        buckets_skipped=buckets_skipped,
        total_docs=sum(r["n_docs"] for r in rows),
        total_spans=sum(r["n_spans"] for r in rows),
        total_errors=sum(r["n_errors"] for r in rows),
    )


def metrics_summary(spark: SparkSession, output_path: str) -> str:
    m = read_manifest(spark, output_path)
    if m is None:
        return json.dumps({"buckets": 0})
    agg = m.agg(
        F.count(F.lit(1)).alias("buckets"),
        F.sum("n_docs").alias("docs"),
        F.sum("n_spans").alias("spans"),
        F.sum("n_errors").alias("errors"),
        F.sum("wall_s").alias("wall_s"),
    ).collect()[0]
    return json.dumps(
        {
            "buckets": agg.buckets,
            "docs": int(agg.docs or 0),
            "spans": int(agg.spans or 0),
            "errors": int(agg.errors or 0),
            "wall_s": float(agg.wall_s or 0.0),
            "docs_per_sec": round((agg.docs or 0) / agg.wall_s, 2) if agg.wall_s else None,
        }
    )
