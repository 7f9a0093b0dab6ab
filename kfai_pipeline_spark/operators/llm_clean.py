"""LLM cleaning connector (U1): per-chunk text transform with
per-video all-or-nothing semantics.

The reference sends each chunk to a local LLM and aborts the whole
video when any chunk fails (ref transformers/utils/cleaning.py:24-112,
abort at 86-97). Spark form: ``applyInPandas`` grouped by video — the
group is the atomicity unit, exactly matching the reference's
per-video abort, and the Arrow boundary batches whole videos.

The transform itself is INJECTED (``clean_fn``): production plugs an
HTTP client batching calls to an external inference service (scope
decision — LLM serving stays external); tests plug deterministic
stubs. Failures inside ``clean_fn`` must raise; the video's row is
then emitted with ``clean_ok = false`` and its ORIGINAL chunks
retained (dead-letter routing downstream, I3) instead of poisoning
the job.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    StructField,
    StructType,
)


def clean_chunks_grouped(
    df: DataFrame,
    clean_fn: Callable[[str, dict], str],
    key: str = "video_id",
    chunks_col: str = "transcript_chunks",
) -> DataFrame:
    """Apply ``clean_fn(text, metadata) -> text`` to every chunk,
    all-or-nothing per ``key`` group.

    Output schema = input schema + ``clean_ok boolean``. On any chunk
    failure the video keeps its ORIGINAL chunks and gets
    ``clean_ok = false`` (ref clean_locally.py:57-76 skips the video and
    records the failure). Columns named ``__*`` are the caller's
    bookkeeping: they pass through unchanged and stay out of the
    metadata ``clean_fn`` sees."""
    import pandas as pd

    out_schema = StructType(df.schema.fields + [StructField("clean_ok", BooleanType())])
    meta_cols = [
        f.name for f in df.schema.fields
        if f.name != chunks_col and not f.name.startswith("__")
    ]

    def clean_group(pdf: pd.DataFrame) -> pd.DataFrame:
        ok = True
        new_chunk_arrays = []
        for _, row in pdf.iterrows():
            chunks = row[chunks_col]
            if chunks is None:
                new_chunk_arrays.append(None)
                continue
            metadata = {c: row[c] for c in meta_cols}
            try:
                new_chunk_arrays.append(
                    [
                        {"text": clean_fn(c["text"], metadata), "start": c["start"]}
                        for c in chunks
                    ]
                )
            except Exception:
                ok = False
                break
        if ok:
            pdf = pdf.copy()
            pdf[chunks_col] = pd.Series(new_chunk_arrays, index=pdf.index, dtype=object)
        pdf["clean_ok"] = ok
        return pdf

    return df.groupBy(key).applyInPandas(clean_group, schema=out_schema)


def identity_clean(text: str, metadata: dict) -> str:
    """Hermetic stub: the no-op LLM (tests, dry runs)."""
    return text
