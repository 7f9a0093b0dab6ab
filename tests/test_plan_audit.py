"""Physical-plan audit: the properties that make queries survive a
100x scale-up, asserted against .explain() output so a regression in
any of them fails CI — not just a slower bench.

What is checked and why it matters at 100 TB:
  - PushedFilters / ReadSchema  -> predicate + column pruning reach the
    parquet scan; a full-width scan of a 100 TB table for a 3-column
    query is the single most expensive possible mistake.
  - BroadcastHashJoin           -> dims never shuffle the fact side.
  - no CartesianProduct         -> similarity/cross shapes stay
    broadcast-nested-loop or bucket-join, never all-pairs shuffle.
  - TakeOrderedAndProject       -> global ORDER BY + LIMIT k ships k
    rows per partition to the driver, not the full sort.
  - WholeStageCodegen           -> the hot expressions stay fused
    JVM-side (no interpreted row-at-a-time evaluation).
"""

from __future__ import annotations

import contextlib
import io

from conftest import SF_ORACLE
from kfai_pipeline_spark.queries import REGISTRY


def plan(spark, qname: str, mode: str = "formatted") -> str:
    # Always audit the PRE-EXECUTION plan: the registry memoizes built
    # DataFrames, and once another test (e.g. test_oracle) collects one,
    # its QueryExecution is frozen as the EXECUTED adaptive plan — whose
    # formatted output appends the initial plan to the final plan and
    # doubles every node count this file asserts on (seen as 6 Window
    # ops for q84's 3). Purging the memo entry rebuilds fresh, making
    # these asserts independent of suite order.
    from kfai_pipeline_spark.queries.base import _PLAN_MEMO

    _PLAN_MEMO.pop((spark.sparkContext.applicationId, SF_ORACLE, qname), None)
    df = REGISTRY[qname].build(spark, SF_ORACLE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q01_filter_and_columns_reach_the_scan(spark):
    p = plan(spark, "q01")
    assert "PushedFilters" in p
    assert "LessThan(l_quantity,10" in p.replace(" ", "").replace("l_quantity,10.0", "l_quantity,10"), p
    # projection pruning: scan schema must not include untouched wide cols
    assert "l_comment" not in p.split("ReadSchema")[1].splitlines()[0]


def _ancestors(plan_text: str, line_no: int) -> list[str]:
    """The operator lines above line ``line_no`` of a simple-mode plan
    tree, nearest first: each is the closest earlier line indented less
    than the last one found."""
    lines = plan_text.splitlines()

    def indent(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out, depth = [], indent(lines[line_no])
    for line in reversed(lines[:line_no]):
        if line.startswith("=="):
            break
        if line.strip() and indent(line) < depth:
            out.append(line)
            depth = indent(line)
    return out


def test_q22_dims_broadcast(spark):
    p = plan(spark, "q22")
    assert p.count("BroadcastHashJoin") >= 2, "nation/region must broadcast"
    assert "CartesianProduct" not in p
    # the fact is always the probe side: broadcasting lineitem is the
    # round-4 +80% shape, and past a few GB it cannot be built at all
    simple = plan(spark, "q22", mode="simple")
    scans = [
        i for i, line in enumerate(simple.splitlines())
        if "FileScan" in line and "lineitem.parquet" in line
    ]
    assert scans, simple
    for i in scans:
        assert not any(
            "BroadcastExchange" in a for a in _ancestors(simple, i)
        ), f"lineitem is broadcast:\n{simple}"


def test_q05_is_anti_join_not_not_in(spark):
    p = plan(spark, "q05")
    assert "LeftAnti" in p
    # r15: the anti join consumes DISTINCT right-side keys, so a
    # HashAggregate pair (map-side partial dedup, guide §2.3) must sit
    # below the join — the raw shape shuffled/sorted every orders row.
    # Anchor on tree position as test_q81 does: formatted-plan ids
    # increase leaf -> root, so an aggregate feeding the join has a
    # LOWER id than the join.
    import re

    anti_ids = [
        int(m) for m in re.findall(r"^.*\bLeftAnti\b.*\((\d+)\)\s*$", p, re.M)
    ]
    agg_ids = [
        int(m) for m in re.findall(r"HashAggregate\s+\((\d+)\)\s*$", p, re.M)
    ]
    assert anti_ids and agg_ids, p
    assert min(agg_ids) < min(anti_ids), (
        "distinct pre-aggregate missing below anti join "
        f"(agg ids {agg_ids} vs anti join ids {anti_ids})"
    )


def test_q06_is_semi_join(spark):
    p = plan(spark, "q06")
    assert "LeftSemi" in p


def test_q13_global_topk_pushdown(spark):
    p = plan(spark, "q13")
    assert "TakeOrderedAndProject" in p, "ORDER BY+LIMIT must not full-sort"


def test_q27_similarity_never_cartesian(spark):
    p = plan(spark, "q27")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_embedding_neardup_default_is_not_all_pairs(spark):
    # the DEFAULT near-dup path must plan as a signature equi-join;
    # the O(n^2) cross join exists only behind an explicit use_lsh=False
    import contextlib
    import io

    from kfai_pipeline_spark.catalog import load_table
    from kfai_pipeline_spark.operators.dedup import embedding_neardup_pairs

    emb = load_table(spark, SF_ORACLE, "embeddings")
    df = embedding_neardup_pairs(emb)  # defaults only
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_q59_salted_join_is_equi_join(spark):
    # the salt/replicate pipeline must plan as a plain equi join on
    # (key, salt) — no cartesian, no nested loop from the replication
    p = plan(spark, "q59_salted_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q58_sliding_partial_agg(spark):
    # the 4x slot explosion still combines map-side before the exchange
    p = plan(spark, "q58_sliding_window", mode="simple")
    assert "partial_" in p, "sliding-window agg must be partial before the exchange"


def test_q54_single_window_shuffle(spark):
    # sessionization: lag + cumulative sum + both aggs share ONE
    # hash partitioning on user_id — no re-shuffle between stages.
    # Build a FRESH plan: the registry memoizes DataFrames, and once the
    # oracle test has executed q54 its .explain shows the AQE final plan
    # with per-stage exchange materialization, not the static shape.
    import contextlib
    import io

    from kfai_pipeline_spark.queries.extensions import q54_sessionize_terminator

    df = q54_sessionize_terminator(spark, SF_ORACLE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    p = buf.getvalue()
    assert p.count("hashpartitioning(user_id") <= 1, p


def test_q61_decontaminate_broadcasts_benchmark(spark):
    # contamination(): benchmark shingle set must broadcast into a
    # map-side probe (LEFT join + hit flag feeding ONE aggregation —
    # the corpus shingle pipeline must appear once, not per branch),
    # and the corpus side never shuffles to compute overlap.
    import re

    p = plan(spark, "q61_decontaminate")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    # single-pass: exactly one documents scan on the corpus side plus
    # one for the broadcast benchmark set
    scans = re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)
    assert len(scans) == 2, p


def test_q62_repetition_partial_agg(spark):
    # Two-level agg: both levels must have map-side partial_ combines.
    p = plan(spark, "q62_repetition", mode="simple")
    assert "partial_count" in p or "partial_sum" in p


def test_hash_sample_is_shuffle_free(spark):
    # Deterministic sampling must stay a pure filter: no Exchange at all
    # (q63 itself adds an orderBy for oracle canonicalization only).
    import io as _io

    from kfai_pipeline_spark.catalog import load_table
    from kfai_pipeline_spark.operators.sampling import hash_sample

    df = hash_sample(load_table(spark, SF_ORACLE, "documents"), "doc_id", 0.1)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "Exchange" not in p, p


def test_q67_shard_pack_broadcasts_offsets(spark):
    # The O(buckets) offset table joins back via broadcast; the corpus
    # side must never hash-shuffle for that join.
    p = plan(spark, "q67_shard_pack")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q68_boilerplate_is_broadcast_anti(spark):
    p = plan(spark, "q68_boilerplate_strip")
    assert "LeftAnti" in p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_q69_radius_has_no_window_no_shuffle(spark):
    # Threshold search: map-side filter after a broadcast probe — unlike
    # top-k there is no per-query window, hence no shuffle exchange.
    p = plan(spark, "q69_radius_search")
    assert "Window" not in p
    assert "Exchange hashpartitioning" not in p


def test_q71_funnel_is_single_pass(spark):
    # The funnel must NOT re-scan the corpus per stage: one parquet scan,
    # one window (dedup keeper election), stages as conditional aggs.
    # Build a FRESH plan (not the registry memo): once the oracle test
    # has executed q71, its .explain shows the AQE final plan whose
    # formatted output renders materialized stages differently.
    import io as _io
    import re

    from kfai_pipeline_spark.queries.llm_data import q71_curation_funnel

    df = q71_curation_funnel(spark, SF_ORACLE)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    scans = re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)
    assert len(scans) == 1, p
    windows = re.findall(r"^\(\d+\) Window", p, flags=re.M)
    assert len(windows) == 1, p


def test_q07_stays_in_codegen(spark):
    # AQE's pre-execution plan hides codegen stars; "codegen" mode
    # reports the fused subtrees directly.
    p = plan(spark, "q07", mode="codegen")
    assert "WholeStageCodegen" in p, "no WholeStageCodegen span in the agg pipeline"
    p = plan(spark, "q07")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
        "relational hot path must not cross the Python boundary"
    )


def test_q07_partial_aggregation_before_shuffle(spark):
    # map-side combine: 600 B/row * 100 TB never crosses the wire raw
    p = plan(spark, "q07", mode="simple")
    assert "partial_sum" in p, "aggregate must be partial before the exchange"


def test_q07_cents_long_overflow_raises_under_ansi(spark, tmp_path):
    # q07's domain bound: past it the cents-LONG product sums overflow,
    # and ANSI mode (Spark 4.1's default) raises instead of wrapping.
    # Ten rows at l_extendedprice=1e12 put sum_charge's LONG sum at
    # ~1e19 > 2^63. The query reads a private sf dir, so the shared
    # lineitem temp view other modules use is never re-registered.
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    n = 10
    pq.write_table(
        pa.table(
            {
                "l_quantity": [1.0] * n,
                "l_extendedprice": [1e12] * n,
                "l_discount": [0.0] * n,
                "l_tax": [0.0] * n,
                "l_returnflag": ["A"] * n,
                "l_linestatus": ["F"] * n,
                "l_shipdate": pa.array(
                    [datetime.datetime(1995, 1, 1)] * n, pa.timestamp("us")
                ),
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        REGISTRY["q07"].build(spark, str(tmp_path)).collect()


def test_q28_refuses_zone_aware_ts(spark, tmp_path):
    # q28 extracts calendar fields from ts; on a zone-aware TIMESTAMP
    # they would run in the session zone, so the build refuses one from
    # the schema alone. Like the q07 overflow test, the query reads a
    # private sf dir holding only the table it names.
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    pq.write_table(
        pa.table(
            {
                "ts": pa.array(
                    [datetime.datetime(2024, 3, 10, 2, 30)],
                    pa.timestamp("us", tz="UTC"),
                ),
                "event_type": ["view"],
                "value": [1.0],
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    with pytest.raises(TypeError, match="TIMESTAMP_NTZ"):
        REGISTRY["q28"].build(spark, str(tmp_path))


def test_partitioned_json_read_prunes_partitions(spark, tmp_path):
    # S5 sink layout (year=Y/month=MM) + a partition-column predicate
    # must prune at the FILE level: PartitionFilters carries the
    # predicate and only the matching month's files are scanned.
    import contextlib
    import io

    from pyspark.sql import functions as F

    from kfai_pipeline_spark.sources.video_records import write_partitioned_json

    months = [1325376000, 1328054400, 1330560000]  # 2012-01/02/03
    df = spark.range(300).select(
        F.col("id"),
        (F.lit(months[0]) + (F.col("id") % 3) * 2678400).alias("epoch"),
    )
    # exact month boundaries for the partition derivation
    df = df.withColumn(
        "epoch",
        F.element_at(F.array(*[F.lit(m) for m in months]), (F.col("id") % 3 + 1).cast("int")),
    )
    out = str(tmp_path / "part_json")
    write_partitioned_json(df, out, epoch_col="epoch")
    back = spark.read.json(out)
    q = back.where(F.col("month") == 2).agg(F.count("*").alias("n"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p
    assert "month" in p.split("PartitionFilters")[1].splitlines()[0]
    assert q.collect()[0]["n"] == 100


def test_q16_partition_derivation_prunes_scan(spark):
    # events scan: only the needed columns are read
    p = plan(spark, "q16")
    read_schema = p.split("ReadSchema")[1].splitlines()[0] if "ReadSchema" in p else ""
    assert "props" not in read_schema, "untouched JSON blob column must be pruned"


# Queries whose plans legitimately contain a nested-loop/cartesian:
# brute-force oracle arms over eval-scale embeddings (documented), and
# broadcast-query similarity scans (BroadcastNestedLoopJoin by design).
_NESTED_LOOP_OK = {
    "q27",                  # brute cosine top-k baseline (broadcast NLJ)
    "q36_neardup_emb",      # brute pair oracle arm
    "q43_cross",            # explicit CROSS JOIN semantics (declared)
    "q46_sketch",           # 1-row tolerance-band cross join
    "q69_radius_search",    # broadcast query NLJ, map-side filter
    "q73_mixture_sample",   # 1-row totals cross join inside rates
    "q74_semantic_dedup",   # brute pair oracle arm
    "q75_unigram_logprob",  # broadcast 1-row corpus-total cross join
    "q81_tfidf_terms",      # broadcast 1-row doc-total cross join
    "q92_bigram_logprob",   # broadcast 1-row corpus-total cross join
    "q96_bm25",             # broadcast 1-row corpus-stats cross join
    "q98_heavy_hitters",    # broadcast 1-row corpus-total cross join
    "q101_hybrid_rrf",      # bm25 1-row stats + broadcast cosine probe arms
    "q109_dsir_sample",     # broadcast 1-row bucket-totals cross join
    "q110_quantized_ann",   # broadcast codebook + query cross joins
    "q111_sq8_index",       # 1-row literal query join constant-folds to NLJ
    "q112_pq_index",        # same 1-row literal query shape as q111
    "q113_ivfpq_index",     # same 1-row literal query shape as q111/q112
    "q117_hard_negatives",  # broadcast anchor NLJ (the q27 scan shape)
    "q121_rag_tiered",      # SQ8 probe: same 1-row literal query shape as q111
    "q125_rag_tiered_ivfpq",  # IVFPQ probe: same 1-row literal query shape
    "q128_rag_index_append_sq8",    # the q121 shape over an appended index
    "q129_rag_index_append_ivfpq",  # the q125 shape over an appended index
    "q130_rag_index_stream",        # the q121 shape over a streamed index
    "q133_rag_serving_lifecycle",   # the q121 shape over a versioned root
    "q134_rag_drift_rebuild",       # the q121 shape post drift-rebuild
}


def test_q80_rolling_is_window_not_self_join(spark):
    """The RANGE-frame rolling aggregate must plan as a single Window
    over one exchange on the key — never a range self-join (which
    duplicates every row once per window hit)."""
    # Build a FRESH plan (not the registry memo): once the oracle test
    # has executed q80, .explain renders the AQE final plan and the
    # operator/exchange counts below would see materialized stages.
    from kfai_pipeline_spark.queries.extensions import q80_rolling_range

    df = q80_rolling_range(spark, SF_ORACLE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "Window" in p
    assert "Join" not in p, "rolling agg must not expand into a self-join"
    assert p.count("hashpartitioning(user_id") == 1, "one key shuffle only"
    # both aggregates share one window spec -> a single Window operator
    assert p.count("Window (") == 1, "count+sum must share one Window op"


def test_q81_tfidf_total_broadcasts_and_window_is_post_agg(spark):
    """The 1-row doc total must broadcast (never a vocab-wide window),
    and the ranking window input must be the aggregated (lang, word)
    frame, not the exploded corpus.

    Build a FRESH plan (not the registry memo): once the oracle test
    has executed q81, .explain renders the AQE final plan with
    per-stage materialization and the static node counts below would
    miscount (same trap as q80/q95)."""
    from kfai_pipeline_spark.queries.llm_data import q81_tfidf_terms

    df = q81_tfidf_terms(spark, SF_ORACLE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    # The window must consume the post-aggregate frame. Anchor on the
    # numbered tree lines ("OpName (n)"): formatted-plan ids increase
    # leaf -> root, so an aggregate feeding the window has a LOWER id
    # than the window. A bare substring index could match column names
    # or the details header instead of tree position.
    import re

    op_ids = [
        (m.group(1), int(m.group(2)))
        for m in re.finditer(r"([A-Za-z][A-Za-z]*)\s+\((\d+)\)\s*$", p, re.M)
    ]
    win_ids = [v for k, v in op_ids if "Window" in k]
    agg_ids = [v for k, v in op_ids if "HashAggregate" in k]
    assert win_ids and agg_ids, f"missing operators in tree: {op_ids}"
    assert min(agg_ids) < min(win_ids), (
        "ranking window must consume the aggregated frame "
        f"(agg ids {agg_ids} vs window ids {win_ids})"
    )
    # r14: linear lineage — the scan/regex-split/explode pipeline is
    # planned exactly ONCE (the old tf-from-wx + countDistinct-from-wx
    # branch pair re-derived it twice; column pruning thins the
    # branches differently, so CSE/ReuseExchange never unify them).
    # Document frequency folds from the post-aggregate (group, word)
    # frame via a vocab-sized window, so the tf<->df shuffle join is
    # gone too: the only remaining scans are the corpus explode and the
    # count-only n_docs total, and the only join is the broadcast total.
    scans = re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)
    assert len(scans) == 2, f"{len(scans)} scans — corpus pipeline re-derived"
    gens = re.findall(r"^\(\d+\) Generate", p, flags=re.M)
    assert len(gens) == 1, f"{len(gens)} explodes — corpus pipeline re-derived"
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert join not in p, f"unexpected {join} — tf<->df join-back returned"


def test_q91_training_order_has_no_global_sort(spark):
    """The training-order permutation must never range-partition the
    corpus (the ORDER BY rand() anti-pattern): the only exchange is the
    hash partition on the shard key feeding the per-shard window."""
    import re

    p = plan(spark, "q91_training_order")
    assert "Window" in p
    assert "hashpartitioning(shard" in p, "window input must shuffle on the shard key"
    # rangepartitioning may appear ONCE: the display orderBy on the
    # 16-row aggregate. Formatted-plan ids increase leaf -> root, so the
    # range exchange must sit ABOVE every aggregate (post-reduction),
    # proving the corpus itself never global-sorts.
    range_ids = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) Exchange\s*\nArguments: rangepartitioning", p)
    ]
    agg_ids = [int(m.group(1)) for m in re.finditer(r"HashAggregate \((\d+)\)", p)]
    assert len(range_ids) <= 1, "more than one range shuffle"
    assert agg_ids, "aggregation missing from plan"
    for rid in range_ids:
        assert rid > max(agg_ids), "corpus must not be globally sorted pre-aggregation"


def test_no_accidental_cartesian_anywhere(spark):
    """Registry-wide sweep: no query may plan a CartesianProduct, and
    nested-loop joins may appear only in the whitelisted brute-arm /
    broadcast-scan queries. Catches the classic silent scale killer
    (a dropped join key turning an equi join into a cross join)."""
    import io as _io

    bad = []
    for name in sorted(REGISTRY):
        df = REGISTRY[name].build(spark, SF_ORACLE)
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("simple")
        p = buf.getvalue()
        if "CartesianProduct" in p and name not in _NESTED_LOOP_OK:
            bad.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in p and name not in _NESTED_LOOP_OK:
            bad.append((name, "BroadcastNestedLoopJoin"))
    assert not bad, bad


def test_q94_dup_spans_is_shingle_keyed_no_pair_join(spark):
    """Duplicated-span detection must stay shingle-keyed: no cartesian
    or nested-loop pair join anywhere, and the per-(doc, shingle) count
    must partial-aggregate map-side before its exchange (the first
    shuffle moves distinct grains, not raw span occurrences)."""
    p = plan(spark, "q94_dup_spans")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # r14: the cross-doc ndocs test is a WINDOW over the same
    # hashpartitioning(shingle) exchange — the former groupBy+join-back
    # re-derived the whole shingle pipeline for the ndocs branch
    # (Catalyst prunes the branches differently, so neither CSE nor AQE
    # stage reuse collapses them; measured 23.1 s -> 15.3 s at 100x).
    # No join of any kind should remain.
    assert "Window" in p
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert join not in p, f"unexpected {join} — join-back shape returned"
    # map-side partial agg before every exchange (HashAggregate pairs)
    assert p.count("HashAggregate") >= 4, "expected partial+final agg pairs"
    # single-pass: ONE corpus scan feeds both per-doc aggregates
    import re as _re

    scans = _re.findall(r"^\(\d+\) Scan parquet", p, flags=_re.M)
    assert len(scans) == 1, f"{len(scans)} scans — shingle pipeline re-derived"


def test_q84_funnel_single_scan_bounded_state(spark):
    """Funnel: ONE events scan, ONE user_id exchange, and NO array
    aggregation buffers. r14 collapsed the 3-scan staged shape into one
    per-user aggregate but accumulated every click/purchase ts in
    collect_list arrays (unbounded, unspillable per-key state); r15
    replaced those with stacked conditional window mins — WindowExec
    partitions spill, arrays do not (guide §5)."""
    p = plan(spark, "q84_funnel")
    import re as _re

    scans = _re.findall(r"^\(\d+\) Scan parquet", p, flags=_re.M)
    assert len(scans) == 1, f"{len(scans)} scans — staged shape returned"
    assert "collect_list" not in p, "unbounded array agg state returned"
    # three stacked windows over the same user_id partitioning
    n_windows = len(_re.findall(r"^\(\d+\) Window", p, flags=_re.M))
    assert n_windows == 3, f"{n_windows} Window ops — expected t1/t2/t3"
    # the windows and per-user agg share one exchange; the only other
    # exchange is the 1-row final SinglePartition agg
    n_exch = len(_re.findall(r"^\(\d+\) Exchange", p, flags=_re.M))
    assert n_exch == 2, f"{n_exch} exchanges — extra shuffle crept in"
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert join not in p, f"unexpected {join} — staged join returned"


def test_q95_scd2_single_exchange_no_self_join(spark):
    """SCD2 history: change filter between two windows over one spec —
    a single hash exchange on the key, one window sort shared by both
    Window operators, never an interval self-join.

    Build a FRESH plan (not the registry memo): once the oracle test has
    executed q95, its .explain shows the AQE final plan with per-stage
    materialization, not the static shape."""
    import io as _io

    from kfai_pipeline_spark.queries.extensions import q95_scd2_history

    df = q95_scd2_history(spark, SF_ORACLE)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    p = buf.getvalue()
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning(user_id") == 1, "one key shuffle only"
    assert p.count("Window") == 2
    # only the window sort orders by (ts, event_id); a second such sort
    # would mean the lead/version window re-sorted after the filter
    assert sum(
        1 for ln in p.splitlines() if ln.strip().startswith("+- Sort") and "ts#" in ln
    ) == 1


def test_q96_bm25_term_filter_precedes_shuffle_and_topk_pushes_down(spark):
    """BM25: the query-term IN filter must apply map-side (below the
    first exchange) so only matching (doc, term) rows shuffle, and the
    final top-k must be TakeOrderedAndProject, not a global sort."""
    import re

    # fresh plan (not the registry memo) — see test_q101 note on AQE
    # final-plan renumbering after the oracle test executes the query
    from kfai_pipeline_spark.queries.llm_data import q96_bm25

    df = q96_bm25(spark, SF_ORACLE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "TakeOrderedAndProject" in p, "top-k must not global-sort"
    assert "CartesianProduct" not in p
    # Each branch's IN-list filter must consume the explode DIRECTLY
    # (formatted-plan ids increase leaf -> root within a branch, so the
    # filter's child Generate has id f-1) — i.e. the filter is narrow
    # map-side work below that branch's first exchange, never applied
    # after a shuffle of the full exploded corpus.
    # detail blocks run from "(n) Filter" to the next "(m) Op" header
    blocks = re.split(r"^\((\d+)\) ", p, flags=re.M)
    filt_ids = [
        int(blocks[i])
        for i in range(1, len(blocks) - 1, 2)
        if blocks[i + 1].startswith("Filter") and "__term" in blocks[i + 1]
    ]
    assert filt_ids, "expected a term filter in the plan"
    for f in filt_ids:
        assert f"Generate ({f - 1})" in p, (
            f"term filter ({f}) must sit directly on the explode — "
            "something (an exchange?) crept between them"
        )


def test_q98_heavy_hitters_candidates_broadcast_before_recount(spark):
    """The exact recount must semi-join the BROADCAST candidate list
    before aggregating — the full vocabulary never shuffles."""
    p = plan(spark, "q98_heavy_hitters")
    assert "BroadcastExchange" in p
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_q99_source_filter_is_broadcast_semi_join(spark):
    """Corpus filtering by source verdict must be a broadcast semi join
    (map-side) — the corpus never shuffles to be filtered."""
    p = plan(spark, "q99_source_curation")
    assert "LeftSemi" in p
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_q97_merge_upsert_snapshot_never_shuffles(spark):
    """The MERGE's anti join must broadcast the change keys: no
    hash-partition exchange of the snapshot side below the anti join
    (the final display orderBy is the only range exchange allowed)."""
    import re

    p = plan(spark, "q97_merge_upsert")
    assert "LeftAnti" in p
    assert "BroadcastExchange" in p
    assert not re.search(r"Exchange hashpartitioning\(c_custkey", p), (
        "snapshot must not hash-shuffle for the merge"
    )


def test_q100_zscore_is_single_window_no_self_join(spark):
    """All three rolling aggregates (count/avg/stddev) and the z
    arithmetic must share ONE Window operator over one key exchange —
    never a range self-join."""
    from kfai_pipeline_spark.queries.extensions import q100_rolling_zscore

    df = q100_rolling_zscore(spark, SF_ORACLE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "Window" in p
    assert "Join" not in p, "rolling z-score must not expand into a self-join"
    assert p.count("hashpartitioning(user_id") == 1, "one key shuffle only"
    assert p.count("Window (") == 1, "count+avg+stddev must share one Window op"


def test_q101_fusion_operates_on_reduced_lists(spark):
    """RRF must fuse already-top-k frames: the full-outer fusion join
    sits ABOVE both arms' window top-k filters (ids root-ward), so it
    only ever sees k-row inputs — and the corpus arms keep their own
    scale shapes (term filter on the explode, broadcast NLJ probe).
    Build a FRESH plan (not the registry memo): once the oracle test
    has executed q101, .explain renders the AQE final plan whose
    stage materialization renumbers the operator ids."""
    import re

    from kfai_pipeline_spark.queries.llm_data import q101_hybrid_rrf

    df = q101_hybrid_rrf(spark, SF_ORACLE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    # tree lines carry the join type with the id at the END:
    # "+- SortMergeJoin FullOuter (56)"
    join_ids = [
        int(m.group(1))
        for m in re.finditer(
            r"(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) FullOuter \((\d+)\)", p
        )
    ]
    assert join_ids, "expected a full-outer fusion join"
    win_ids = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) Window", p)]
    assert win_ids, "expected ranking windows"
    assert min(join_ids) > max(win_ids), (
        "fusion join must consume the ranked (already reduced) frames"
    )


def test_q102_incremental_merge_has_no_join_and_partial_aggs(spark):
    """The snapshot+delta merge must be union-of-aggregates with
    map-side partials — never a join, never a raw-grain re-shuffle of
    both sides together."""
    p = plan(spark, "q102_incremental_agg", mode="simple")
    assert "Join" not in p
    assert "Union" in p
    assert "partial_count" in p or "partial_sum" in p


def test_dedup_corpus_joins_never_broadcast(spark):
    """Round-4 scale guard: every corpus-derived join side in the
    minhash pipeline and the X37 index probe is pinned to a shuffle
    join. Catalyst's post-aggregate size estimates once chose to
    broadcast the full shingle frame (driver OOM at 100x) — if a hint
    is dropped, a BroadcastExchange reappears here and this fails."""
    import pandas as pd  # noqa: F401

    from kfai_pipeline_spark.catalog import load_table
    from kfai_pipeline_spark.operators import dedup as D

    docs = load_table(spark, SF_ORACLE, "documents")
    sh = D.word_shingles(docs, "text", "doc_id")
    sigs = D.minhash_signatures(sh, "doc_id")
    cands = D.minhash_candidates(sigs, "doc_id", 8, 4)
    edges = D.jaccard_verify(cands, sh, "doc_id", 0.7)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        edges.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastExchange" not in p, "corpus frame broadcast in verify path"
    assert "CartesianProduct" not in p

    probe = D.neardup_against_index(
        docs.where("doc_id % 10 = 0"),
        sigs.where("doc_id % 10 != 0"),
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    p2 = buf.getvalue()
    assert "BroadcastExchange" not in p2, "index side broadcast in probe path"
    assert "CartesianProduct" not in p2


def test_q108_segment_dedup_winner_is_agg_join_not_window(spark):
    """The first-occurrence winner must come from a map-side-combining
    aggregate joined back on the segment hash — NOT a row_number()
    window over the hash (a hot boilerplate segment at 100 TB would put
    its entire duplicate set into ONE window partition). Also: the
    segment derivation must reference a STAGED word array (re-splitting
    inside the transform lambda is the round-3 O(n^2) class)."""
    p = plan(spark, "q108_segment_dedup")
    assert "Window" not in p
    # partial min(struct) before the exchange = map-side combine
    assert "partial_min(struct" in p
    # SMJ join-back on the hash, never a broadcast (corpus-scale side)
    assert "SortMergeJoin" in p and "BroadcastHashJoin" not in p
    gen = [l for l in p.splitlines() if "posexplode" in l]
    assert gen and all("split(" not in l for l in gen), "unstaged re-split"


def test_q109_dsir_stats_broadcast_and_fold_is_ordered(spark):
    """Bucket stats (<=B rows) and the 1-row totals must come back as
    broadcasts — the corpus-grain (doc, bucket) frame never shuffles
    for them; the per-doc weight must be an ordered fold (array_sort
    before aggregate), not a bare float SUM."""
    p = plan(spark, "q109_dsir_sample")
    assert "BroadcastHashJoin" in p          # bucket stats
    assert "BroadcastNestedLoopJoin" in p    # 1-row totals
    assert "TakeOrderedAndProject" in p      # top-k, not a global sort
    assert "array_sort" in p and "aggregate(" in p
    # one corpus pass: every derived aggregate reads the cached frame
    assert "InMemoryTableScan" in p


def test_q110_quantized_ann_broadcasts_and_no_second_full_scan(spark):
    """The quantized candidate pass must ride broadcasts (codebook,
    queries); the re-rank joins a tiny candidate set back — no
    CartesianProduct, and the final top-k per query is a bounded
    window, with ROW_NUMBER filter pushed as a rank limit."""
    p = plan(spark, "q110_quantized_ann")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastExchange") >= 2
