"""Date/time functions (F11-F19) — Column-in, Column-out, no UDFs.

Re-expresses the reference's datetime helpers
(/root/reference/src/kfai/loaders/utils/helpers/datetime.py:4-39,
/root/reference/src/kfai/extractors/utils/helpers/youtube.py:26-41)
with Spark built-ins. ISO-8601 *duration* parsing (F12) — which SURVEY
§4.3.5 flagged as the one "needs a UDF" case — is done with
regexp_extract arithmetic instead, keeping it codegen-eligible.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Reference clamps published_at floors to 2012-01-01T00:00:00Z
# (ref build_vector_store.py:67-69, filtering.py:79).
EPOCH_FLOOR_2012 = 1325376000


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def epoch_seconds_fn(df, ts_col: str):
    """Return ``Column -> Column`` mapping a timestamp of ``ts_col``'s
    type to seconds-since-epoch DOUBLE at full microsecond precision.

    TIMESTAMP (LTZ) casts to double directly (micros/1e6, tz-free).
    TIMESTAMP_NTZ forbids that cast, so we diff in microseconds from the
    NAIVE epoch and divide — the exact twin of SQL ``epoch(ts)`` on a
    naive timestamp, independent of the session time zone. Both arms
    convert each VALUE to double before any subtraction, matching the
    oracle's ``epoch(a) - epoch(b)`` rounding bit-for-bit.

    The returned function applies to any Column of the SAME type as
    ``ts_col`` (e.g. ``lag(ts)``), not just the column itself.
    """
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        origin = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
        return lambda c: F.timestamp_diff("MICROSECOND", origin, c) / F.lit(1000000.0)
    return lambda c: c.cast("double")


def epoch_micros_fn(df, ts_col: str):
    """Like ``epoch_seconds_fn`` but returns LONG microseconds — the
    exact integer form, for ordering keys and range-frame arithmetic
    where a double would be lossy or reject ``rangeBetween`` offsets."""
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        origin = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
        return lambda c: F.timestamp_diff("MICROSECOND", origin, c)
    return lambda c: F.unix_micros(c)


def iso_to_epoch(col: str | Column) -> Column:
    """ISO-8601 string -> Unix epoch seconds, UTC-forced (F11; ref
    datetime.py:4-22). Empty/unparseable -> 0 like the reference."""
    c = _c(col)
    # 'Z' suffix and offset forms both parse via to_timestamp after
    # normalizing Z -> +00:00 (ref youtube.py:26-30 does the same).
    norm = F.regexp_replace(c, "Z$", "+00:00")
    ts = F.coalesce(
        F.try_to_timestamp(norm, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        F.try_to_timestamp(norm, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        F.try_to_timestamp(norm),
    )
    return F.coalesce(F.unix_timestamp(ts), F.lit(0)).cast("long")


def iso_duration_to_seconds(col: str | Column) -> Column:
    """ISO-8601 duration (``P1DT2H3M4S`` forms) -> total seconds (F12;
    ref youtube.py:33-41 via isodate). NULL/empty/invalid -> 0."""
    c = _c(col)
    days = F.coalesce(F.regexp_extract(c, r"P[^T]*?(\d+)D", 1).try_cast("long"), F.lit(0))
    hours = F.coalesce(F.regexp_extract(c, r"T.*?(\d+)H", 1).try_cast("long"), F.lit(0))
    mins = F.coalesce(F.regexp_extract(c, r"T.*?(\d+)M", 1).try_cast("long"), F.lit(0))
    secs = F.coalesce(F.regexp_extract(c, r"T.*?(\d+)S", 1).try_cast("long"), F.lit(0))
    # try_* arithmetic keeps the function TOTAL under Spark 4's
    # default ANSI mode: 'PT999999999999999999H' parses to a long whose
    # multiply overflows, and plain `*` would abort the whole job
    # (round-8 corruption sweep). Overflow -> NULL -> the invalid-input
    # contract (0), same as any other unparseable duration.
    total = F.try_add(
        F.try_add(F.try_multiply(days, F.lit(86400)), F.try_multiply(hours, F.lit(3600))),
        F.try_add(F.try_multiply(mins, F.lit(60)), secs),
    )
    return (
        F.when(c.isNull() | (c == ""), F.lit(0))
        .otherwise(F.coalesce(total, F.lit(0)))
        .cast("long")
    )


def epoch_to_year_month(col: str | Column) -> tuple[Column, Column]:
    """Epoch seconds -> (year, zero-padded month) partition columns (F13;
    ref processing.py:22-28 directory layout)."""
    ts = F.timestamp_seconds(_c(col))
    return F.year(ts).alias("year"), F.lpad(F.month(ts).cast("string"), 2, "0").alias("month")


def format_hms(col: str | Column) -> Column:
    """Seconds -> ``h:mm:ss`` (F14) — always three fields, hours
    unpadded, minutes/seconds 2-padded. For the reference's citation
    display form (which drops the hours field entirely below one hour,
    ref query_agent.py:160-168) use :func:`format_citation_time`."""
    s = _c(col).cast("long")
    return F.concat_ws(
        ":",
        (s / 3600).cast("long").cast("string"),
        F.lpad(((s % 3600) / 60).cast("long").cast("string"), 2, "0"),
        F.lpad((s % 60).cast("string"), 2, "0"),
    )


def format_citation_time(col: str | Column) -> Column:
    """Seconds -> the reference's citation display form (ref
    query_agent.py:160-168): ``h:mm:ss`` when >= 1 hour, else ``m:ss``
    with minutes unpadded (330 -> ``5:30``, 3930 -> ``1:05:30``)."""
    s = _c(col).cast("long")
    minutes_part = F.lpad(((s % 3600) / 60).cast("long").cast("string"), 2, "0")
    secs_part = F.lpad((s % 60).cast("string"), 2, "0")
    return F.when(
        s >= 3600,
        F.concat_ws(":", (s / 3600).cast("long").cast("string"), minutes_part, secs_part),
    ).otherwise(
        F.concat_ws(":", ((s % 3600) / 60).cast("long").cast("string"), secs_part)
    )


def year_term_epoch_range(
    exact_year: int | None = None,
    year_range: str | None = None,
    before_year: int | None = None,
    after_year: int | None = None,
    current_year: int = 2026,
) -> tuple[int, int] | None:
    """Year predicate -> (gte_epoch, lte_epoch) bounds (F15; ref
    filtering.py:43-103). Driver-side pure function — the result feeds
    the filter compiler as ``$gte``/``$lte`` terms.

    Clamps: floor 2012-01-01 (= 1325376000) for ``before_year``; ceiling
    end of ``current_year`` for ``after_year`` — matching the reference's
    ``datetime.now().year`` ceiling.
    """
    from datetime import datetime, timezone

    def _epoch(iso: str) -> int:
        return int(
            datetime.fromisoformat(iso).replace(tzinfo=timezone.utc).timestamp()
        )

    if exact_year is not None:
        y = int(exact_year)
        return _epoch(f"{y}-01-01T00:00:00"), _epoch(f"{y}-12-31T23:59:59")
    if year_range:
        start, end = year_range.split("-")[0], year_range.split("-")[1]
        return (
            _epoch(f"{int(start)}-01-01T00:00:00"),
            _epoch(f"{int(end)}-12-31T23:59:59"),
        )
    if before_year is not None:
        y = int(before_year) - 1
        return EPOCH_FLOOR_2012, _epoch(f"{y}-12-31T23:59:59")
    if after_year is not None:
        y = int(after_year) + 1
        return _epoch(f"{y}-01-01T00:00:00"), _epoch(f"{current_year}-12-31T23:59:59")
    return None
