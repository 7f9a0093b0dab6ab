#!/usr/bin/env python
"""NULL-injection cross-engine sweep (round 6).

The graded fixtures contain zero NULLs; production corpora are full of
them, and SQL three-valued logic makes NULL handling the classic
cross-engine divergence point. This sweep builds a documents fixture
with NULL text / empty text / whitespace-only text / NULL lang / NULL
source / an all-NULL row, then runs the text-family registry queries
through driver_sim (Spark vs DuckDB hash compare).

First run found EIGHT divergences, resolved under one contract —
**NULL text behaves like empty text, and derived guard columns are
total (never NULL)**:
  - token counting: blank docs counted 1 token in the oracles
    (len(['']) after split) vs 0 in token_count() — oracles now CASE
    on blank first;
  - quality ratios: oracles yielded NULL (or div-by-zero) where the
    operator documents 0.0 — now COALESCE'd;
  - signature family (fingerprint / minhash / simhash / jaccard /
    components): Spark's greatest()-floor degrades NULL to one ''
    shingle but DuckDB's split(NULL) vanished the doc — oracles now
    coalesce(text, '');
  - simhash ITSELF dropped NULL-text docs (explode over a NULL split)
    while keeping blank docs — fixed in the operator;
  - truncate_long_docs guard columns were NULL for NULL text (a NULL
    boolean poisons downstream filters) — now total (0, false).

Usage: python scripts/null_sweep.py  (builds /tmp/null_fixture, ~3 min)
"""
from __future__ import annotations

import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

VECTOR_QUERIES = [
    "q27", "q36_neardup_emb", "q46_sketch", "q69_radius_search",
    "q74_semantic_dedup", "q76_simsearch_blas",
    "q90_cluster_assign", "q101_hybrid_rrf", "q110_quantized_ann", "q117_hard_negatives", "q120_hard_negatives_blas",
    "q121_rag_tiered", "q125_rag_tiered_ivfpq", "q126_rag_tiered_batch", "q124_rag_multi_topic", "q127_rag_multi_topic_tiered", "q128_rag_index_append_sq8", "q129_rag_index_append_ivfpq", "q130_rag_index_stream", "q131_index_drift", "q132_rag_tiered_batch_filters", "q133_rag_serving_lifecycle", "q134_rag_drift_rebuild", "q135_rag_selfheal_stream", "q136_rag_index_stage", "q137_rag_tiered_opq",
]

EVENT_QUERIES = [
    "q16", "q17", "q24", "q25", "q28", "q39_asof",
    "q54_sessionize_terminator", "q58_sliding_window", "q72_interval_join",
    "q80_rolling_range", "q84_funnel", "q85_retention",
    "q100_rolling_zscore", "q102_incremental_agg", "q107_zscore_backfill", "q116_zorder_scan", "q118_compact_roundtrip",
    "q122_optimize_table", "q123_json_deadletter",
]

QUERIES = [
    "q26", "q29_tokens", "q30_corpus", "q31_bigrams", "q32_langid",
    "q40_quality", "q48_ngram_jaccard", "q49_fingerprint_md5",
    "q50_simhash_md5", "q55_minhash_md5", "q56_connected_components", "q119_leakage_split",
    "q61_decontaminate", "q115_bloom_decontam", "q62_repetition", "q63_hash_sample",
    "q64_stratified_sample", "q66_pii_redact", "q67_shard_pack",
    "q68_boilerplate_strip", "q71_curation_funnel", "q73_mixture_sample",
    "q75_unigram_logprob", "q81_tfidf_terms", "q91_training_order",
    "q92_bigram_logprob", "q94_dup_spans", "q96_bm25",
    "q98_heavy_hitters", "q99_source_curation", "q104_simhash_dedup",
    "q105_neardup_index", "q106_truncate_longdocs",
    "q108_segment_dedup", "q109_dsir_sample",
]


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    fixture = os.environ.get("SPARK_GRAFT_NULL_DIR", "/tmp/null_fixture")
    os.makedirs(fixture, exist_ok=True)
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "web"),
        (1, None, "en", "web"),
        (2, "", "en", "web"),
        (3, "   ", "en", "web"),
        (4, "normal doc with words here", None, "web"),
        (5, "another ordinary document text", "en", None),
        (6, None, None, None),
        (7, "duplicate text body here", "fr", "web"),
        (8, "duplicate text body here", "fr", "web"),
        (9, "words " * 30, "de", "mirror"),
    ] + [
        (
            10 + i,
            f"filler doc number {i} with some shared tokens the and of",
            ["en", "es", "zh"][i % 3],
            "web",
        )
        for i in range(15)
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) if r[1] is not None else None for r in rows],
                pa.int64(),
            ),
        }
    )
    pq.write_table(tbl, f"{fixture}/documents.parquet")
    src = "/root/testdata/sf0.001"
    for t in "region nation customer supplier part orders lineitem".split():
        shutil.copy(f"{src}/{t}.parquet", f"{fixture}/{t}.parquet")
    # embeddings with a NULL vector, a zero vector, and a NULL label.
    # First run found: the BLAS kernel crashed on ragged numpy input
    # (NULL vectors now drop map-side), assign_clusters sent zero
    # vectors to cluster 0 via argmax-dot while DuckDB's
    # list_cosine_similarity returns -1.0 for them (!) — contract:
    # zero-norm vectors have no direction, NULL cluster / never rank.
    import duckdb

    emdf = duckdb.sql(
        f"SELECT * FROM read_parquet('{src}/embeddings.parquet')"
    ).fetchdf()
    emb = [list(map(float, e)) for e in emdf["embedding"]]
    emb[5] = None
    emb[7] = [0.0] * 64
    lab = [int(x) for x in emdf["label"]]
    lab[9] = None
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(emdf["vec_id"].tolist(), pa.int64()),
                "embedding": pa.array(emb, pa.list_(pa.float32())),
                "label": pa.array(lab, pa.int32()),
            }
        ),
        f"{fixture}/embeddings.parquet",
    )
    # events with NULL value / event_type / props / user_id (ts and
    # event_id stay structural). First run: q39_asof matched NULL user
    # ids to each other (window partitionBy groups NULLs) — asof_join
    # now gives NULL keys equi-join semantics and routes them around
    # the window (skew bonus: no giant NULL-key window partition).
    import duckdb

    ev = duckdb.sql(
        f"SELECT * FROM read_parquet('{src}/events.parquet')"
    ).fetchdf()
    ev.loc[ev.index % 19 == 0, "value"] = None
    # extreme numerics ride along (certified non-divergent): NaN, +/-Inf
    # and +/-1e308 in value — real metric streams contain all of them
    ev.loc[3, "value"] = float("nan")
    ev.loc[7, "value"] = float("inf")
    ev.loc[11, "value"] = float("-inf")
    ev.loc[13, "value"] = 1e308
    ev.loc[17, "value"] = -1e308
    ev.loc[ev.index % 53 == 0, "event_type"] = None
    ev.loc[ev.index % 31 == 0, "props"] = None
    uid = ev["user_id"].astype("object")
    uid[ev.index % 41 == 0] = None
    ev["user_id"] = uid
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ev["event_id"], pa.int64()),
                "ts": pa.array(ev["ts"], pa.timestamp("us")),
                "user_id": pa.array(ev["user_id"].tolist(), pa.int64()),
                "event_type": pa.array(ev["event_type"], pa.string()),
                "value": pa.array(ev["value"], pa.float64()),
                "props": pa.array(ev["props"], pa.string()),
            }
        ),
        f"{fixture}/events.parquet",
    )
    rc = subprocess.call(
        [
            sys.executable,
            f"{REPO}/scripts/driver_sim.py",
            fixture,
            *QUERIES,
            *EVENT_QUERIES,
            *VECTOR_QUERIES,
        ]
    )
    sys.exit(rc)


if __name__ == "__main__":
    main()
