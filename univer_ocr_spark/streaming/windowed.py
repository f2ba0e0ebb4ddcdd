"""Watermarked event-time windowed aggregation over a stream.

Beyond the stateless extraction map: a stateful streaming aggregate with a
watermark for late data — tumbling event-time windows over the events
table's timestamps. AvailableNow over a parquet dir keeps tests bounded and
deterministic; the same plan pointed at Kafka is the live deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# tumbling window shared by the stream and its batch twin; the watermark
# admits events up to two windows late
WINDOW = "1 hour"
WATERMARK = "2 hours"


def _window_counts(ev: DataFrame) -> DataFrame:
    """Tumbling-window counts and value totals per event_type."""
    return (
        ev.groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "total",
        )
    )


def windowed_event_counts_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """Stream events → watermark → tumbling-window counts per event_type."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(input_dir).schema
    src = spark.readStream.schema(schema).parquet(input_dir)
    # watermarks need TIMESTAMP (tz-aware); parquet yields TIMESTAMP_NTZ
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    q = (
        _window_counts(src.withWatermark("ts", WATERMARK))
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_event_counts_batch(spark: SparkSession, input_dir: str) -> DataFrame:
    """The batch twin — streaming output (closed windows) must match it."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _window_counts(
        spark.read.parquet(input_dir).withColumn("ts", F.col("ts").cast("timestamp")))
