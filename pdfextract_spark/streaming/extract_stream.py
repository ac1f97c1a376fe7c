"""Structured Streaming front-end for the extraction pipeline.

The reference is strictly batch (SURVEY.md §2.6 — no watermarks, windows or
state), and so is the engine's primary path. This module is the CONTINUOUS
INGESTION wrapper a production deployment runs when documents arrive as
files/table commits rather than as a fixed snapshot:

    readStream (file source over the interleaved table)
      -> the SAME stateless mapInPandas extraction (extract_spans)
      -> writeStream to partitioned parquet with a checkpointLocation

Because extraction is stateless per document, the streaming plan is the
batch plan with a micro-batch harness around it — exactly-once via the sink
checkpoint + file-source offsets, no watermark needed (no event-time
aggregation), and `Trigger.AvailableNow` drains a backlog with the same
code that tails a live feed. Resume-from-failure comes from the stream
checkpoint — the streaming analog of pipeline.py's bucket manifest.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..config import CONFIG, EngineConfig
from ..operators.extract import extract_spans

INTERLEAVED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [
                        StructField("kind", StringType()),
                        StructField("text", StringType()),
                        StructField("media_ref", StringType()),
                        StructField("offset", IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def extract_stream(
    spark: SparkSession,
    input_dir: str,
    cfg: EngineConfig = CONFIG,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Streaming DataFrame of extracted spans from a parquet directory of
    interleaved documents (file source; schema must be declared up front)."""
    reader = (
        spark.readStream.format("parquet")
        .schema(INTERLEAVED_SCHEMA)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    # -1: keep the source's partitioning (a stream has no scan splits to
    # estimate)
    return extract_spans(reader.load(input_dir), cfg, num_partitions=-1)


def start_extract_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: EngineConfig = CONFIG,
    available_now: bool = True,
):
    """Start (or drain, with available_now) the extraction stream into a
    parquet sink with exactly-once checkpointing. Returns the query."""
    spans = extract_stream(spark, input_dir, cfg)
    writer = (
        spans.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
