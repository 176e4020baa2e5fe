"""Structured-Streaming ingestion: incremental index build.

The reference's "streaming" is bounded single-pass folds (SURVEY.md §2.9);
its chunked build (buildIndex: chunk -> temp index -> treeReduce merge,
simplir-disk-index/src/SimplIR/DiskIndex/Build.hs:34-50) maps naturally
onto micro-batches: each foreachBatch builds a self-contained chunk index
(local dense ids), and ``merge_indexes`` re-bases ids and concatenates
runs on the driver, in pyarrow, with no Spark job — so the streaming path
reuses the exact batch build + merge machinery, and resumability comes
from the streaming checkpoint + already-written chunk dirs.

Also provides a watermarked windowed aggregation over an event stream —
the standard Structured Streaming shape (not in the reference; included
for engine completeness).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_index_build(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    schema,
    checkpoint_dir: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
) -> list[str]:
    """Consume a parquet directory as a stream; one chunk index per
    micro-batch.  Returns chunk dirs (merge with merge_indexes).

    Uses trigger(availableNow) so a bounded corpus drains to completion —
    kill/restart resumes from the checkpoint without rebuilding finished
    chunks.
    """
    from simplir_spark.operators.index_build import build_index

    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_stream_checkpoint")
    chunks_dir = os.path.join(out_dir, "chunks")
    os.makedirs(chunks_dir, exist_ok=True)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        corpus = batch_df.select(
            F.col(id_col).alias("doc_key"), F.col(text_col).alias("content")
        )
        build_index(
            batch_df.sparkSession,
            corpus,
            os.path.join(chunks_dir, f"chunk_{epoch_id:06d}"),
        )

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted(
        os.path.join(chunks_dir, d)
        for d in os.listdir(chunks_dir)
        if d.startswith("chunk_")
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts per event_type.

    Works on both a static DataFrame and a readStream source (same plan).
    """
    # watermarks need TIMESTAMP (not parquet's TIMESTAMP_NTZ); with the
    # session pinned to UTC the cast is bucket-preserving
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy(w.alias("win"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
    ).select(
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        "event_type",
        "n",
        "sum_value",
    )
