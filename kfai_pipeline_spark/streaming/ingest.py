"""Streaming ingest (I1/I2 as streams).

The reference's incremental file processing — scan a directory, skip
already-processed files — is exactly Structured Streaming's file
source: exactly-once file tracking via checkpoint, so the reference's
file-exists checkpoint (processing.py:34-35) comes for free.
``Trigger.AvailableNow`` turns the same pipeline into a catch-up batch
run, which is how the reference's CLI-chained batch stages map onto one
streaming program.

``streaming_dedup`` is the store-contents checkpoint (I2,
build_vector_store.py:78-80): ``dropDuplicates`` keyed on
``(video_id, start_time)`` with watermark-bounded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from kfai_pipeline_spark.sources.video_records import VIDEO_RECORD_SCHEMA


def read_video_records_stream(
    spark: SparkSession,
    path: str,
    schema: StructType = VIDEO_RECORD_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of video-record JSON (S4 streaming twin).
    Reads line-delimited JSON, one record per line — what the batch
    sink (``write_partitioned_json``) writes; a multi-line reader
    would take only the first record of each file.
    ``maxFilesPerTrigger`` is the reference's rate limiting (I4) in
    stream form."""
    reader = spark.readStream.schema(schema).option("recursiveFileLookup", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def read_events_stream(
    spark: SparkSession, sf_dir: str, schema: StructType | None = None
) -> DataFrame:
    """Parquet file-source stream over the events fixture table."""
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    if schema is None:
        schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def streaming_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once-per-key stream (I2). With ``ts_col``, state is
    bounded by the watermark (dropDuplicatesWithinWatermark); without,
    state grows with distinct keys — only for bounded key domains."""
    if ts_col and df.isStreaming:
        from kfai_pipeline_spark.streaming.event_time import as_event_time

        df = as_event_time(df, ts_col)
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def run_available_now(
    stream_df: DataFrame, checkpoint_dir: str, out_table: str
) -> None:
    """Drain everything currently available into an in-memory table and
    stop — the batch-parity harness (Trigger.AvailableNow)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(out_table)
        .outputMode("complete" if _has_aggregation(stream_df) else "append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _has_aggregation(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "Aggregate" in plan
