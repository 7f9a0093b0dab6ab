"""Watermarked window aggregations (§2.10 streaming twins of Q25/Q28).

Each helper works on BOTH batch and streaming DataFrames — Spark's
``window``/``session_window`` functions are mode-agnostic, and the
watermark is applied only when the input is streaming (batch inputs
ignore ``withWatermark`` anyway, but skipping it keeps batch plans
clean). This is how batch-stream parity is asserted in tests: same
function, one batch run vs one Trigger.AvailableNow run.

State sizing at scale: watermark delay bounds state retention; the
shuffle keys are (window, group) so skew follows the group key, and
AQE skew handling applies on the batch side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _maybe_watermark(df: DataFrame, ts_col: str, delay: str | None) -> DataFrame:
    if delay and df.isStreaming:
        from kfai_pipeline_spark.streaming.event_time import as_event_time

        return as_event_time(df, ts_col).withWatermark(ts_col, delay)
    return df


def _aggs(value_col: str | None) -> list[Column]:
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if value_col:
        aggs.append(F.round(F.sum(value_col), 2).alias(f"sum_{value_col}"))
    return aggs


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    group_cols: list[str] | None = None,
    value_col: str | None = "value",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Q28 streaming twin: fixed windows of ``duration``."""
    grouped = _maybe_watermark(df, ts_col, watermark).groupBy(
        F.window(ts_col, duration).alias("win"), *(group_cols or [])
    )
    return grouped.agg(*_aggs(value_col)).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *(group_cols or []),
        "cnt",
        *([f"sum_{value_col}"] if value_col else []),
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    slide: str = "15 minutes",
    group_cols: list[str] | None = None,
    value_col: str | None = "value",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Sliding windows: each event lands in duration/slide windows."""
    grouped = _maybe_watermark(df, ts_col, watermark).groupBy(
        F.window(ts_col, duration, slide).alias("win"), *(group_cols or [])
    )
    return grouped.agg(*_aggs(value_col)).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *(group_cols or []),
        "cnt",
        *([f"sum_{value_col}"] if value_col else []),
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    group_cols: list[str] | None = None,
    value_col: str | None = None,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Q25 streaming twin: data-driven session windows with ``gap``
    inactivity timeout (built-in ``session_window`` — no custom state
    needed; registry query q25 is the batch gaps-and-islands form)."""
    grouped = _maybe_watermark(df, ts_col, watermark).groupBy(
        F.session_window(ts_col, gap).alias("win"), *(group_cols or [])
    )
    return grouped.agg(*_aggs(value_col)).select(
        F.col("win.start").alias("session_start"),
        F.col("win.end").alias("session_end"),
        *(group_cols or []),
        "cnt",
        *([f"sum_{value_col}"] if value_col else []),
    )
