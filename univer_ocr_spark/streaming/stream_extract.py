"""Streaming extraction: file-source → extract_stage → sink.

Uses Trigger.AvailableNow over a parquet directory so tests are
deterministic and bounded; on a live cluster the same plan points at a
Kafka/Iceberg-CDC source. The extraction stage itself is byte-identical to
the batch path — one implementation, two harnesses.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from univer_ocr_spark.spark.pipeline import extract_stage


def stream_extract_parquet_dir(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """Run extraction over all files currently in ``input_dir`` (AvailableNow)
    and write results to ``output_dir``; blocks until drained.

    The checkpoint dir gives streaming's exactly-once file-sink semantics —
    the streaming twin of the batch manifest (spark/manifest.py)."""
    schema = spark.read.parquet(input_dir).schema
    src = spark.readStream.schema(schema).parquet(input_dir)
    out = extract_stage(src)
    q = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_stream_output(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(output_dir)
