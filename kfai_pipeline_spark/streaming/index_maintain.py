"""Continuous ANN-index maintenance from an ingest stream — the
streaming twin of X52 (``similarity.append_ann_index``), keeping the
serving index fresh without ever re-encoding the corpus.

The 100 TB workflow: the batch build (seed/backfill) trains the
index's artifacts — SQ8 per-dim stats, IVFPQ coarse book + codebooks —
and those stay FROZEN; each arriving micro-batch of documents encodes
against them (one shuffle-free mapInPandas stage, the kind's one
encoder in ``similarity._write_codes``) and lands as codes. Every
probe (``sq8_topk`` / ``ivfpq_topk``, and therefore the whole
``retrieve_tiered`` serving plan) reads the batch-built codes UNIONED
with every committed streamed epoch (``similarity._codes_df``), so
freshly ingested documents are retrievable at the next trigger.

The index kind is read from the index (``similarity.index_kind``: the
manifest's ``kind``, else the artifacts dir) — chosen once at build,
never restated here. Starting a maintainer on a path that holds no
index raises at start.

Exactly-once without a transactional store: each epoch's codes land in
their own ``codes_batches/batch_<id>/`` directory written with
overwrite — a replayed epoch rewrites itself instead of appending
duplicates (the neardup/rollup maintainers' (content, batch_id)-pure
contract, directory-identity form). The probe-side listing is
``_SUCCESS``-gated, so a crashed mid-write epoch is invisible until
its replay commits.

Drift contract (same as the batch append): the frozen artifacts don't
learn from streamed data — out-of-range SQ8 values saturate, IVFPQ
recall over the new region follows the build-time books. Rebuild
cadence is the README decision table's freshness column; a rebuild is
a new index directory + the caller's pointer flip (the rollup.py
version protocol), never an in-place retrain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def encode_epoch(
    batch_df: DataFrame,
    artifacts_path: str,
    dest: str,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
) -> None:
    """Encode one micro-batch against the FROZEN artifacts of the index
    at ``artifacts_path`` and land it as the overwrite-idempotent epoch
    directory ``dest`` — the shared kernel of
    :func:`maintain_ann_index_stream` (plain index dirs) and
    operators/index_lifecycle.py's versioned maintainer (root-level
    shared epochs). The epoch is written unpartitioned (see
    ``similarity._write_codes``). NULL / zero-norm vectors are excluded
    by the encoders (the degenerate-vector contract); an empty-built
    index raises (no artifacts to encode against)."""
    from kfai_pipeline_spark.operators.similarity import _trained, _write_codes

    codec, arts = _trained(batch_df.sparkSession, artifacts_path, "maintain")
    _write_codes(
        codec, batch_df, arts, dest, "overwrite", vec_col, id_col,
        partition_by=False,
    )


def maintain_ann_index_stream(
    stream_df: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
):
    """Start an AvailableNow query folding each micro-batch's vectors
    into the persisted index at ``index_path`` (built beforehand with
    ``rag.build_retrieval_index`` / ``similarity.build_ann_index`` — a
    path holding no index raises here, at start; an empty-built index
    raises in the first epoch, same as the batch append). NULL /
    zero-norm vectors are excluded by the encoders (the
    degenerate-vector contract). Returns the started query.

    ``index_path`` here is a PLAIN index dir and epochs land inside it
    (``<index_path>/codes_batches``) — right for a single-writer index
    that is never compacted concurrently. For the compaction-safe
    versioned layout (shared root epochs + manifest membership + the
    committed serving pointer) use index_lifecycle.
    maintain_serving_index_stream."""
    from kfai_pipeline_spark.operators.similarity import _kind_at
    from kfai_pipeline_spark.streaming.sinks import write_stream_foreach_batch

    # a path holding no index fails here, at start, not in the first fold
    _kind_at(stream_df.sparkSession, index_path)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        encode_epoch(
            batch_df,
            index_path,
            f"{index_path}/codes_batches/batch_{batch_id}",
            vec_col=vec_col,
            id_col=id_col,
        )

    return write_stream_foreach_batch(stream_df, fold, checkpoint_dir)
