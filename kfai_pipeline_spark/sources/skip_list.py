"""Skip-list / dead-letter side file (S6/I3).

The reference keeps a JSON array of permanently-failed video ids and
re-persists it after each new skip (ref fetch_raw_data.py:20-39,
106-117). Engine form: a single-column DataFrame persisted as JSON;
filtering is an anti join (or a broadcast ``isin`` for small lists).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kfai_pipeline_spark.session import local_frame


def load_skip_set(spark: SparkSession, path: str) -> DataFrame:
    """Skip file -> 1-column DataFrame (empty when absent, like the
    reference's missing-file fallback at fetch_raw_data.py:30-39)."""
    return local_frame(spark, [(v,) for v in read_skip_ids(path)], "video_id string")


def read_skip_ids(path: str) -> list[str]:
    """The ids of the skip file at ``path``; none when it is absent."""
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as f:
        return json.load(f)


_SKIP_SET_WARN_ABOVE = 1_000_000


def save_skip_set(df: DataFrame, path: str) -> int:
    """Persist the skip DataFrame as a sorted JSON array; returns count.

    Driver-side collect is intentional: skip lists are control metadata
    (thousands of ids at most), not data-plane rows. A list above
    ~10^6 ids is no longer control metadata — this warns (the collect
    is now driver-memory-bound) and the right arm is to keep the ids
    as a parquet table and use :func:`filter_skipped`'s anti join
    (which never collects) instead of a JSON side file."""
    # one job: collect, then warn on the materialized size (a separate
    # count() would re-run the whole upstream pipeline a second time)
    ids = sorted(r[0] for r in df.select("video_id").distinct().collect())
    return write_skip_ids(ids, path)


def write_skip_ids(ids: list[str], path: str) -> int:
    """Persist the driver-held, sorted, distinct ``ids`` as the skip
    file's JSON array; returns their count."""
    if len(ids) > _SKIP_SET_WARN_ABOVE:
        import warnings

        warnings.warn(
            f"skip list has {len(ids):,} ids — beyond control-metadata size; "
            "the driver holds it in memory. Persist the ids "
            "as a parquet table and anti-join with filter_skipped instead.",
            ResourceWarning,
            stacklevel=2,
        )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    # write-then-rename so concurrent readers never see a torn file
    # (os.replace is atomic on POSIX); salt the temp name with the pid
    # so concurrent writers don't clobber each other's temp.
    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(ids, f, indent=4)
        os.replace(tmp, path)
    except BaseException:
        # don't orphan the salted temp on a failed write (disk full,
        # interrupt): repeated failing runs would accumulate one per pid
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
    return len(ids)


def filter_skipped(df: DataFrame, skip: DataFrame, key: str = "video_id") -> DataFrame:
    """P4: drop rows whose key appears in the skip list (broadcast anti
    join — the skip side is always small)."""
    return df.join(F.broadcast(skip), key, "left_anti")
