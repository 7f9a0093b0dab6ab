#!/usr/bin/env python
"""Regenerate PLANS.md from the current code at sf0.01.

Each section: a declared query, one paragraph of why the plan shape is
the scale-correct one, and the real `.explain()` output (long lines
truncated). tests/test_plan_audit.py machine-asserts every property the
commentary claims, so PLANS.md can't silently drift from the code.
"""
from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, "/root/repo")

SF = "/root/testdata/sf0.01"
MAX_LINE = 240

SECTIONS = [
    (
        "q01",
        "Scan + filter + project (P1/P2)",
        "Filter and 3-column projection reach the parquet scan: `PushedFilters` "
        "carries `LessThan(l_quantity,10)`, `ReadSchema` lists only the touched "
        "columns. At 100 TB this is the difference between reading ~3 columns' "
        "row groups and reading the table.",
    ),
    (
        "q22",
        "5-table revenue join (J1, TPC-H Q5 shape)",
        "The ASIA dim chain reduces orders first: customer, nation and region "
        "broadcast into the orders scan (`BroadcastHashJoin` under "
        "`BroadcastExchange`), and the lineitem fact joins LAST against that "
        "reduced side. `BROADCAST(ao)` in the query text makes the reduced "
        "ASIA orders the build side (`BuildRight`), so the fact is the probe "
        "side and never shuffles before aggregation; the agg is partial before "
        "its exchange. Without the hint the planner broadcast lineitem itself "
        "(`BuildLeft` over the lineitem scan here and at sf0.1) — the shape "
        "round 4 measured at +80% wall (BASELINE.md §5b) — and "
        "`test_q22_dims_broadcast` now fails on any plan that puts lineitem's "
        "scan under a `BroadcastExchange`. Round 2 note: the auto threshold "
        "stays at the stock 10 MB after a 10x-scale experiment showed the "
        "static planner broadcasting the fact table (BASELINE.md §3d). The "
        "hint's scale bound: ao is tens of MB at sf10; past ~sf300 it would "
        "not fit a broadcast.",
    ),
    (
        "q07",
        "Wide aggregate (A7, TPC-H Q1 shape)",
        "One scan -> `partial_sum`/`partial_avg` HashAggregate -> exchange on "
        "the 2 group keys -> final aggregate. Map-side combine means 6 groups "
        "per partition cross the wire, not 600 M rows. The whole pre-shuffle "
        "pipeline is a single WholeStageCodegen span.",
    ),
    (
        "q05",
        "Anti join / set difference (J4)",
        "NOT-IN semantics become `LeftAnti` hash join, never a filter over a "
        "collected id list.",
    ),
    (
        "q13",
        "Global sort + limit (W2/top-k)",
        "`TakeOrderedAndProject`: each partition ships its local top-500, the "
        "driver merges. No global range-partitioned sort is materialized.",
    ),
    (
        "q27",
        "Brute-force cosine top-k (X3 baseline)",
        "The single query vector broadcasts (`BroadcastNestedLoopJoin`); the "
        "corpus streams through one codegen stage computing the dot product "
        "JVM-side (`zip_with`+`aggregate`, no Python). No `CartesianProduct` "
        "anywhere.",
    ),
    (
        "q54_sessionize_terminator",
        "Terminator-aware sessionization, batch arm (§2.10)",
        "The whole pipeline — lag, cumulative-sum session ids, per-session "
        "aggregate, per-user aggregate — shares ONE hashpartitioning on "
        "user_id (machine-asserted: a single exchange). At 100 TB the "
        "sessionization costs exactly one shuffle of the events table; the "
        "streaming arm replaces the shuffle with applyInPandasWithState "
        "per-key state bounded by the watermark.",
    ),
    (
        "q80_rolling_range",
        "Time-range rolling aggregate (X23)",
        "Trailing 1-hour count/sum per user as a RANGE frame over exact "
        "epoch-microsecond ordering: one `hashpartitioning(user_id)` exchange "
        "and a SINGLE `Window` operator computing both aggregates (machine-"
        "asserted). The relational alternative — a range self-join plus "
        "re-aggregate — shuffles the events table twice and duplicates every "
        "row once per window hit; at 100 TB the window form shuffles each row "
        "exactly once.",
    ),
    (
        "q52_multimodal_meta",
        "Multimodal binary metadata (X5)",
        "The typed-metadata layer over an opaque binary column stays entirely "
        "JVM-side (`length`/`sha2` in a projection — no Python boundary, no "
        "shuffle): at 100 TB the only cost is the scan itself. mapInPandas "
        "kernels (`decode_audio_meta`/`transcribe_audio`) appear only where a "
        "model genuinely runs.",
    ),
    (
        "q90_cluster_assign",
        "Broadcast-numpy cluster assignment (X27, the IVF routing kernel)",
        "Nearest-centroid assignment holds ZERO centroid literals in the "
        "plan: the centroid matrix ships once per executor as a Spark "
        "broadcast variable and each Arrow batch scores with one matmul "
        "inside `mapInPandas`. Plan size and compile time are O(1) in k*dim "
        "(machine-asserted: k=8 and k=1024 produce equal-size plans) — a "
        "production IVF (k~4096, dim~1024) is a 32 MB broadcast, not ~4M "
        "expression nodes.",
    ),
    (
        "q91_training_order",
        "Deterministic training order without a global sort (X28)",
        "The classic `ORDER BY rand()` training shuffle range-partitions the "
        "whole corpus through one sort. Here the permutation is hash-derived "
        "map-side, the only exchange is `hashpartitioning(shard)` (machine-"
        "asserted: no rangepartitioning anywhere), and ordering exists only "
        "WITHIN shards — exactly what a sharded loader consumes. Salt per "
        "epoch re-permutes with zero extra cost; layout independence is "
        "property-tested.",
    ),
    (
        "q94_dup_spans",
        "Cross-doc duplicated spans without a pair join (X31)",
        "Lee et al.'s exact-substring dedup re-expressed as shingle-keyed "
        "shuffles: spans explode map-side (slice+transform, codegen), the "
        "per-(doc, shingle) count partial-aggregates BEFORE its exchange so "
        "the first shuffle moves distinct grains rather than raw "
        "occurrences, and the cross-doc ndocs test is a COUNT WINDOW over "
        "the same hashpartitioning(shingle) exchange (r14 — the former "
        "groupBy+join-back re-derived the whole shingle pipeline for the "
        "ndocs branch; per-key window rows are bounded by the doc count). "
        "Both per-doc aggregates (total spans, duplicated spans) ride ONE "
        "groupBy(doc) over the windowed frame — no separate totals branch, "
        "no join of any kind. Machine-asserted: no CartesianProduct / "
        "nested-loop join, no SortMergeJoin/ShuffledHashJoin/BroadcastHash"
        "Join, >=4 HashAggregate partial+final pairs, exactly ONE corpus "
        "scan. At 100 TB every stage is an "
        "equi-keyed shuffle with map-side combine — the same data motion "
        "a suffix-array build would need, minus the global sort.",
    ),
    (
        "q96_bm25",
        "BM25 lexical retrieval (X33)",
        "ONE corpus explode: the query-term IN filter sits DIRECTLY on "
        "the Generate (machine-asserted), so only matching (doc, term) "
        "rows ever shuffle; document frequency is a window over the "
        "REDUCED tf frame (never a second corpus derivation); corpus "
        "stats ride a 1-row BroadcastNestedLoopJoin; the final top-k "
        "is TakeOrderedAndProject. At 100 TB the corpus contributes "
        "only its query-term hits to any exchange.",
    ),
    (
        "q98_heavy_hitters",
        "Heavy hitters via Misra-Gries pruning (X34)",
        "Candidate generation is a mapInPandas pass with k counters per "
        "partition (bounded memory, no shuffle; the MG merge guarantee "
        "makes the union a superset of all true heavy hitters). The "
        "exact recount LeftSemi-joins the BROADCAST candidate list "
        "before its aggregation — so the full vocabulary never "
        "shuffles, only ≤ k·#partitions candidate words do. Output is "
        "exact integer counts under a strict threshold: partitioning "
        "can change the candidate set but never the answer.",
    ),
    (
        "q99_source_curation",
        "Source/domain-level curation (X35)",
        "One doc→source aggregate reduces the corpus to source grain; "
        "the verdict table broadcasts back and the corpus is filtered "
        "by a BroadcastExchange + LeftSemi join — map-side, the corpus "
        "never shuffles. Same aggregate-small/broadcast-back shape as "
        "mixture sampling and boilerplate removal.",
    ),
    (
        "q97_merge_upsert",
        "Type-1 MERGE upsert (I6)",
        "The change keys broadcast into a LeftAnti against the "
        "snapshot — machine-asserted: NO hashpartitioning exchange of "
        "the snapshot side. At 100 TB the snapshot streams through a "
        "map-side anti join; only the (small) compacted CDC batch is "
        "ever collected for broadcast.",
    ),
    (
        "q106_truncate_longdocs",
        "Long-doc truncation guard (X38)",
        "Pure codegen map: length/substring/md5 in one WholeStageCodegen "
        "span over the scan, NO exchange before the final sort — the "
        "straggler defense costs one pass, nothing else. (The straggler "
        "itself is a data property: one giant row serializes its own "
        "task; see BASELINE.md §5h.)",
    ),
    (
        "q108_segment_dedup",
        "Corpus segment-level dedup (X39)",
        "Segment grain is derived MAP-SIDE (staged word array + "
        "transform/posexplode — zero shuffles, and no per-segment "
        "re-split of the document). The first-occurrence winner is a "
        "groupBy(hash).min(struct) with map-side partial_min, joined "
        "back SortMergeJoin on the hash — machine-asserted: no Window "
        "(a 10^9-copy hot boilerplate segment must never serialize its "
        "duplicate set into one window task; min() reduces it to one "
        "row per task map-side, BASELINE.md §5k). Reassembly is the "
        "only per-doc shuffle.",
    ),
    (
        "q109_dsir_sample",
        "DSIR hashed importance resampling (X41)",
        "ONE corpus bigram pass materializes the compact (doc, bucket) "
        "count frame (persisted — Spark shares no subplans, so the "
        "three derived aggregates would otherwise re-explode the "
        "corpus); the B-row bucket stats and 1-row totals come back as "
        "broadcasts (machine-asserted InMemoryTableScan + "
        "BroadcastHashJoin); the per-doc weight is an ORDERED float "
        "fold so the result is partitioning-invariant; top-k is "
        "TakeOrderedAndProject.",
    ),
    (
        "q110_quantized_ann",
        "Int8 scalar-quantized ANN + exact re-rank (X42)",
        "Codes are bit-exact across engines (floor(x+0.5) of identical "
        "doubles); the per-dim codebook and the query set ride "
        "broadcasts, the candidate window is bounded at k*refine, and "
        "the re-rank joins the BROADCAST candidate set back so the "
        "full-precision table streams map-side. The production twin "
        "(sq8_topk) scans a PACKED-byte persisted index — 1 byte/dim — "
        "with a linear-form uint8 matmul kernel: 5.3x the brute BLAS "
        "scan at 10M vectors (BASELINE.md §5g-addendum 3).",
    ),
    (
        "q100_rolling_zscore",
        "Trailing-window z-score anomaly detection (X23b)",
        "count/avg/stddev and the z arithmetic all ride ONE Window "
        "operator over the same epoch-micros RANGE spec (machine-"
        "asserted: single `Window (`, single hashpartitioning on the "
        "key, no Join) — the self-join formulation would duplicate "
        "every row once per frame hit and shuffle twice.",
    ),
    (
        "q101_hybrid_rrf",
        "Hybrid retrieval fusion — RRF (X36)",
        "The FullOuter fusion join consumes the two arms ABOVE their "
        "top-k reductions (machine-asserted: fusion join id root-ward "
        "of every ranking Window), so fusion cost is O(k·lists) "
        "regardless of corpus size; each arm keeps its own audited "
        "scale shape (q96's map-side term filter, q27's broadcast "
        "cosine probe).",
    ),
    (
        "q102_incremental_agg",
        "Incremental aggregate maintenance (I7)",
        "Union-of-aggregates with map-side partials and NO join "
        "(machine-asserted): the snapshot side is key-grain, so the "
        "merge shuffles aggregate rows only. At 100 TB yesterday's "
        "rollup (tiny) plus today's delta partition are the only "
        "inputs — history is never rescanned.",
    ),
    (
        "q115_bloom_decontam",
        "Bloom-pruned exact decontamination (X45)",
        "The arm for benchmark n-gram sets too large to broadcast "
        "exactly: ONE xxhash64 per shingle in codegen (positions derive "
        "from it via mod-first Kirsch-Mitzenmacher double hashing — "
        "overflow-free under ANSI, re-derived vectorized inside the "
        "kernel so only 8 hash bytes cross Arrow per shingle), the "
        "mapInPandas bit-test sits BETWEEN the shingle explode and "
        "the verify join, so ~99.9% of corpus shingles (at 18 bits/key) "
        "die map-side and only survivors reach the exchange; the exact "
        "semi join then eliminates every false positive — output "
        "bit-identical to q61's broadcast-exact arm (same oracle). The "
        "totals branch aggregates the shingle frame with map-side "
        "partials on doc_id and never touches the benchmark.",
    ),
    (
        "q121_rag_tiered",
        "Tiered ANN retrieval in the RAG serving plan (X50)",
        "The serving shape above the corpus threshold: the SQ8 codes "
        "scan (1 byte/dim packed BINARY + stored norms — the only "
        "corpus-scale read) feeds a per-batch vectorized candidate "
        "kernel with local top-k, the global window ranks "
        "O(k_probe x batches) rows, the tiny candidate id set "
        "BROADCASTS back onto the doc table (never a corpus shuffle), "
        "the metadata predicate applies post-probe, and one uniform "
        "exact re-score + deterministic dedup/cap runs on the "
        "survivors. Candidates are collected once per top-up round so "
        "the certificate check and the final consumer never re-run the "
        "codes scan. Hash-checked row-identical to brute retrieval.",
    ),
    (
        "q122_optimize_table",
        "One-call table maintenance: compact + z-order + stats (X50b)",
        "A pure layout rewrite under Spark's committer: one scan of the "
        "fragmented table, codegen Morton interleave over the clamped "
        "bucket ids, ONE sampled range-repartition on the z-value "
        "(Spark's own range partitioner balances skewed z "
        "distributions), sortWithinPartitions, bounded row groups at "
        "write. The read-back aggregate pushes both predicates into "
        "the scan and combines map-side. File count = ceil(bytes / "
        "target) is computed from the FS listing, never a row count.",
    ),
    (
        "q123_json_deadletter",
        "Corrupted-JSON dead-letter routing (I3b)",
        "Totality in one codegen span: the deterministic corruption, "
        "the try_parse_json validity flag, the try_cast field "
        "extraction, and the conditional aggregates all run in the "
        "scan's WholeStageCodegen before one exchange on event_type — "
        "no Python, no second pass, and no expression that can throw "
        "under ANSI (malformed rows become dead-letter counts, never "
        "task failures).",
    ),
    (
        "q125_rag_tiered_ivfpq",
        "IVFPQ as the RAG serving tier's index kind (X50/X44)",
        "The 10^10-vector serving shape reached from the serving plan: "
        "the probe's cluster routing is a driver-side q x k_c matmul, "
        "the cluster_id filter prunes at the parquet PARTITION level "
        "(only ~nprobe/n_clusters of the codes files are opened), the "
        "pruned scan reads m bytes/vector of residual PQ codes with "
        "per-batch ADC + local top-k, and the same broadcast "
        "candidate join-back / post-probe filter / certificate-gated "
        "top-up as q121 runs above it. Hash-checked against the q121 "
        "brute oracle verbatim in the exhaustive-probe regime.",
    ),
    (
        "q126_rag_tiered_batch",
        "Batched-query tiered serving (offline eval arm)",
        "One pool scan at round 2's depth serves EVERY pending query "
        "(the query block ships into the scan kernel; per-partition "
        "local top-k before the global per-query window); each "
        "query's rounds replay from its pool on the executors "
        "(groupBy(query_id).applyInPandas, the single-query arm's "
        "rules), and the decided rows are localCheckpoint-materialized "
        "once, so the plan below reads them as an existing RDD scan; "
        "only queries whose pool was too shallow scan again. The doc "
        "join-back broadcasts the distinct decided id set (never a "
        "corpus shuffle); driver traffic is O(#queries) status rows "
        "per pass, never a pool. Per-query dedup/cap windows replace "
        "the single-query limit.",
    ),
    (
        "q124_rag_multi_topic",
        "Reference-faithful multi-topic retrieval fan-out (deterministic)",
        "B branches = B independent filtered scans unioned into one "
        "job (Catalyst pushes each branch's metadata + ILIKE predicate "
        "into its scan); each branch caps at k with rounded scores and "
        "id tie-breaks before the union, so the cross-branch "
        "dedup/cap window ranks O(B x k) rows, never branch unions of "
        "the corpus.",
    ),
    (
        "q127_rag_multi_topic_tiered",
        "Multi-topic fan-out through the ANN serving tier",
        "Each branch probes the SAME persisted SQ8 index (one codes "
        "table serves every branch); the branch's ILIKE gate applies "
        "post-probe with the certificate-gated top-up, candidate ids "
        "broadcast back per branch, and the cross-branch dedup/cap "
        "runs over O(B x k) rows. The corpus-scale read is codes "
        "bytes x branches; the float table is touched only by "
        "broadcast candidate joins.",
    ),
    (
        "q128_rag_index_append_sq8",
        "Incremental SQ8 index maintenance (add-after-train)",
        "The q121 serving plan over an index built in two phases: the "
        "frozen per-dim stats make the append a pure encode-and-append "
        "map stage (no shuffle, no rewrite of existing code files); "
        "the probe plan is byte-identical to the full-build's — one "
        "codes scan, broadcast candidate join-back, window dedup, "
        "TakeOrderedAndProject cap.",
    ),
    (
        "q129_rag_index_append_ivfpq",
        "Incremental IVFPQ index maintenance (add-after-train)",
        "Appended vectors assign+residual-encode against the frozen "
        "coarse book in one mapInPandas stage and dynamic-partition "
        "APPEND into the cluster_id layout — only the delta's m "
        "bytes/vector are written and existing partition files are "
        "untouched; the probe's partition pruning sees one unified "
        "layout.",
    ),
    (
        "q130_rag_index_stream",
        "Streaming ANN-index maintenance serving parity (X52b)",
        "Each micro-batch encodes against the frozen build-time stats "
        "in one shuffle-free mapInPandas stage and overwrites its own "
        "codes_batches/batch_<id>/ directory (replay-idempotent; "
        "_SUCCESS-gated at probe time); the serving probe unions the "
        "seed codes with every committed epoch, so the plan is the "
        "q121 shape over N member scans — the corpus-scale read is "
        "still codes bytes, and freshly streamed documents are "
        "retrievable at the next trigger.",
    ),
    (
        "q131_index_drift",
        "Index drift statistics (the rebuild trigger, X52d)",
        "One narrow scan of the incoming batch: the frozen stats row "
        "broadcasts as array literals, the out-of-range flag and "
        "overshoot fold as JVM higher-order array expressions inside "
        "WholeStageCodegen, and ONE map-side-partial aggregate "
        "produces the monitor row -- no Python, no shuffle beyond the "
        "single-row final combine.",
    ),
    (
        "q132_rag_tiered_batch_filters",
        "Per-query metadata predicates in the batched serving arm (X50e)",
        "The q126 plan with the shared predicate replaced by ONE CASE "
        "expression over query_id (a branch per DISTINCT predicate "
        "template, evaluated on the pool rows once the pool binds "
        "query_id, before the replay): the pool scan stays "
        "one-per-pass for all pending queries, the corpus never "
        "shuffles, and predicate cost scales with templates, not "
        "query count. The plan below joins the checkpointed decided "
        "rows back to the docs.",
    ),
    (
        "q133_rag_serving_lifecycle",
        "Committed serving-pointer lifecycle (X53)",
        "The q121 probe plan over a RESOLVED serving version: one "
        "pointer read picks root/v_N, whose manifest admits exactly "
        "the committed shared epochs it has not folded (membership, "
        "not locking — a racing epoch stays served). Post-compaction "
        "the member union collapses back to the compacted base scan; "
        "the plan is byte-identical to q121's shape either way.",
    ),
    (
        "q134_rag_drift_rebuild",
        "Drift-triggered rebuild (X53b)",
        "The q131 monitor aggregate decides; on breach the rebuild is "
        "a fresh build_ann_index into v_{N+1} (encode map stage + "
        "artifact writes, no touch of the old version) and an atomic "
        "pointer flip — serving then probes the new version with the "
        "unchanged q121 plan. The decision costs one narrow scan of "
        "the incoming batch; the rebuild costs what the initial build "
        "cost, never more.",
    ),
    (
        "q135_rag_selfheal_stream",
        "Self-healing streaming maintainer (X53c)",
        "Per micro-batch: the q131 monitor aggregate (one narrow scan "
        "of the batch, per-fold broadcast scope released "
        "deterministically) decides; on breach the fold pays the q134 "
        "rebuild (quiesce holds by construction — the fold is the "
        "only epoch writer and is synchronous) and skips the epoch; "
        "otherwise one shuffle-free mapInPandas encode lands the "
        "epoch. Serving afterwards is the unchanged q121 plan through "
        "the resolved version.",
    ),
    (
        "q136_rag_index_stage",
        "Index lifecycle as a pipeline stage (X53d)",
        "The incremental arm's one extra cost over q133 is the "
        "left-anti delta join of the store against the serving codes' "
        "id column (codes are m-or-d bytes/row, the join keys are the "
        "only bytes read); the drift decision and epoch encode are the "
        "q131/q130 plans; serving is the q121 plan keyed on the "
        "xxhash64 chunk surrogate.",
    ),
    (
        "q137_rag_tiered_opq",
        "OPQ-rotated IVFPQ serving (X54)",
        "The q125 plan exactly: the rotation folds into the driver's "
        "LUT construction (one q x d matmul before the per-block "
        "codebook GEMMs) and into the encode kernel's residual GEMM "
        "— zero extra distributed stages, zero extra bytes scanned; "
        "routing and partition pruning are untouched.",
    ),
]


def main() -> None:
    from kfai_pipeline_spark.queries import REGISTRY
    from kfai_pipeline_spark.session import get_spark

    spark = get_spark(app_name="gen-plans")
    out = [
        "# PLANS — physical-plan audit (generated from .explain() at sf0.01)",
        "",
        "Machine-checked twin: `tests/test_plan_audit.py` asserts every property",
        "called out below, so plan regressions fail the suite. Long lines",
        "(literal centroid arrays etc.) are truncated. Regenerate with",
        "`python scripts/gen_plans.py` (plans below are the real output of the",
        "committed code).",
    ]
    for name, title, commentary in SECTIONS:
        df = REGISTRY[name].build(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("simple")
        body = "\n".join(
            (l if len(l) <= MAX_LINE else l[:MAX_LINE] + " … [line truncated]")
            for l in buf.getvalue().rstrip().splitlines()
        )
        out += ["", f"## {name} — {title}", "", commentary, "", "```", body, "```"]
    # extra section: the near-dup DEFAULT plan (operator, not a registry query)
    from kfai_pipeline_spark.catalog import load_table
    from kfai_pipeline_spark.operators.dedup import embedding_neardup_pairs

    emb = load_table(spark, SF, "embeddings")
    df = embedding_neardup_pairs(emb)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    body = "\n".join(
        (l if len(l) <= MAX_LINE else l[:MAX_LINE] + " … [line truncated]")
        for l in buf.getvalue().rstrip().splitlines()
    )
    out += [
        "",
        "## embedding_neardup_pairs (default) — sign-LSH banding (X2)",
        "",
        "The DEFAULT near-dup path is a signature equi-join (band signatures "
        "explode, SortMergeJoin on `__sig`) — no `CartesianProduct`, no "
        "`BroadcastNestedLoopJoin`. The O(n²) cross join exists only behind an "
        "explicit `use_lsh=False` (the q36 oracle baseline).",
        "",
        "```",
        body,
        "```",
        "",
    ]
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
