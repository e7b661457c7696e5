"""Watermarked tumbling-window aggregation over an event stream.

The streaming twin of the batch ``events_windows`` oracle query
(__spark_entry__.py): readStream → withWatermark → groupBy(window(ts), …)
→ append sink. Append mode emits a window only once the watermark passes
its end, so late events inside the horizon still count and events later
than the watermark are dropped — the bounded-state contract for
unbounded event streams (state is O(open windows), not O(stream)).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from agentic_doc_spark.streaming import _start


def stream_windowed_counts(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "1 hour",
    available_now: bool = True,
):
    """File stream of (ts, event_type, value, …) → append sink of
    finalized (window_start, window_end, key, n, total_value) rows."""
    schema = spark.read.parquet(input_path).schema
    src = spark.readStream.schema(schema).parquet(input_path)
    agg = (
        src.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(key_col))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            key_col,
            "n",
            "total_value",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    return _start(writer, available_now)
