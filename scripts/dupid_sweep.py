#!/usr/bin/env python
"""Duplicate-id cross-engine sweep (round 7; the round-6 verdict's
"next sweep" candidate).

The graded fixtures have unique doc_id / vec_id / event_id; real feeds
do not — re-crawls deliver the same id twice with identical bodies,
corrupted exports deliver the same id with DIFFERENT bodies, and CDC
replays duplicate events. Operators keyed on "id is a key" can
silently drop, double-count, or nondeterministically pick — and the
two engines may disagree on WHICH copy survives. This sweep builds a
fixture where:

  documents:  doc 3 appears twice with the SAME text (re-crawl);
              doc 5 appears twice with DIFFERENT text (corrupt feed)
  embeddings: vec 7 twice with the same vector; vec 9 twice with
              different vectors
  events:     event 11 twice identical; event 13 twice with different
              values (same ts)

then runs the id-keyed registry families (dedup / fingerprint / index
/ resume / top-k / window) through driver_sim's Spark-vs-DuckDB hash
compare on the SAME duplicated fixture: both engines see the dup rows,
so the contract checked is "duplicate ids propagate identically —
never silently deduped, never engine-dependent".

Usage: python scripts/dupid_sweep.py  (builds /tmp/dupid_fixture)
"""
from __future__ import annotations

import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DOC_QUERIES = [
    "q26", "q29_tokens", "q40_quality", "q48_ngram_jaccard",
    "q49_fingerprint_md5", "q50_simhash_md5", "q55_minhash_md5",
    "q56_connected_components", "q119_leakage_split", "q61_decontaminate", "q115_bloom_decontam", "q63_hash_sample",
    "q64_stratified_sample", "q67_shard_pack", "q91_training_order",
    "q94_dup_spans", "q96_bm25", "q104_simhash_dedup",
    "q105_neardup_index", "q106_truncate_longdocs", "q108_segment_dedup",
    "q109_dsir_sample",
]
VEC_QUERIES = [
    "q27", "q36_neardup_emb", "q69_radius_search",
    "q74_semantic_dedup", "q76_simsearch_blas", "q90_cluster_assign", "q117_hard_negatives", "q120_hard_negatives_blas",
    "q110_quantized_ann", "q121_rag_tiered", "q125_rag_tiered_ivfpq", "q126_rag_tiered_batch", "q124_rag_multi_topic", "q127_rag_multi_topic_tiered", "q128_rag_index_append_sq8", "q129_rag_index_append_ivfpq", "q130_rag_index_stream", "q131_index_drift", "q132_rag_tiered_batch_filters", "q133_rag_serving_lifecycle", "q134_rag_drift_rebuild", "q135_rag_selfheal_stream", "q136_rag_index_stage", "q137_rag_tiered_opq",
]
EVENT_QUERIES = [
    "q17", "q24", "q25", "q39_asof", "q80_rolling_range", "q84_funnel",
    "q85_retention", "q87_composite_resume", "q100_rolling_zscore",
    "q102_incremental_agg", "q116_zorder_scan", "q118_compact_roundtrip",
    "q122_optimize_table", "q123_json_deadletter",
]


def main() -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    fixture = os.environ.get("SPARK_GRAFT_DUPID_DIR", "/tmp/dupid_fixture")
    os.makedirs(fixture, exist_ok=True)
    src = "/root/testdata/sf0.001"
    for t in "region nation customer supplier part orders lineitem".split():
        shutil.copy(f"{src}/{t}.parquet", f"{fixture}/{t}.parquet")

    docs = duckdb.sql(
        f"SELECT * FROM read_parquet('{src}/documents.parquet')"
    ).fetchdf()
    same = docs[docs.doc_id == 3].copy()  # identical re-crawl copy
    diff = docs[docs.doc_id == 5].copy()  # same id, different body
    diff["text"] = "entirely different replacement body for doc five"
    diff["n_chars"] = diff["text"].str.len()
    out = __import__("pandas").concat([docs, same, diff], ignore_index=True)
    pq.write_table(pa.Table.from_pandas(out, preserve_index=False),
                   f"{fixture}/documents.parquet")

    emdf = duckdb.sql(
        f"SELECT * FROM read_parquet('{src}/embeddings.parquet')"
    ).fetchdf()
    emdf["embedding"] = [list(map(float, e)) for e in emdf["embedding"]]
    same_v = emdf[emdf.vec_id == 7].copy()
    diff_v = emdf[emdf.vec_id == 9].copy()
    diff_v["embedding"] = [[float((i * 13) % 7 - 3) for i in range(64)]]
    oute = __import__("pandas").concat(
        [emdf, same_v, diff_v], ignore_index=True
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(oute["vec_id"].tolist(), pa.int64()),
                "embedding": pa.array(
                    oute["embedding"].tolist(), pa.list_(pa.float32())
                ),
                "label": pa.array(
                    [int(x) for x in oute["label"]], pa.int32()
                ),
            }
        ),
        f"{fixture}/embeddings.parquet",
    )

    ev = duckdb.sql(
        f"SELECT * FROM read_parquet('{src}/events.parquet')"
    ).fetchdf()
    same_e = ev[ev.event_id == 11].copy()
    diff_e = ev[ev.event_id == 13].copy()
    diff_e["value"] = diff_e["value"] + 100.0  # same id+ts, new value
    outv = __import__("pandas").concat(
        [ev, same_e, diff_e], ignore_index=True
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(outv["event_id"], pa.int64()),
                "ts": pa.array(outv["ts"], pa.timestamp("us")),
                "user_id": pa.array(outv["user_id"], pa.int64()),
                "event_type": pa.array(outv["event_type"], pa.string()),
                "value": pa.array(outv["value"], pa.float64()),
                "props": pa.array(outv["props"], pa.string()),
            }
        ),
        f"{fixture}/events.parquet",
    )

    rc = subprocess.call(
        [
            sys.executable,
            f"{REPO}/scripts/driver_sim.py",
            fixture,
            *DOC_QUERIES,
            *VEC_QUERIES,
            *EVENT_QUERIES,
        ]
    )
    sys.exit(rc)


if __name__ == "__main__":
    main()
