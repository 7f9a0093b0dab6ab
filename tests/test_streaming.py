"""Streaming tests (SURVEY §5.2 item 1 + §2.10): batch-stream parity on
Trigger.AvailableNow for tumbling/session windows, stateful dedup, and
file-source ingest of video records."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kfai_pipeline_spark.catalog import load_table
from kfai_pipeline_spark.streaming.ingest import (
    read_video_records_stream,
    run_available_now,
    streaming_dedup,
)
from kfai_pipeline_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events re-written as a multi-file parquet directory via
    ``load_table`` (which normalizes legacy nanos fixtures; current
    micros/NTZ fixtures pass through) so the file stream source has
    several files to trigger on."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, SF_SMOKE, "events").repartition(4).write.mode("overwrite").parquet(out)
    return out


def _stream_events(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    return spark.readStream.schema(schema).parquet(events_dir)


def _drain(spark, df, tmp_path_factory, name):
    ckpt = str(tmp_path_factory.mktemp(f"ckpt_{name}"))
    run_available_now(df, ckpt, name)
    return spark.table(name)


def test_tumbling_parity(spark, events_dir, tmp_path_factory):
    batch = tumbling_window_agg(spark.read.parquet(events_dir), group_cols=["event_type"])
    stream = tumbling_window_agg(_stream_events(spark, events_dir), group_cols=["event_type"])
    got = _drain(spark, stream, tmp_path_factory, "tumbling_out")
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, got.collect()))
    assert b == s and len(b) > 0


def test_session_window_parity(spark, events_dir, tmp_path_factory):
    batch = session_window_agg(
        spark.read.parquet(events_dir), gap="30 minutes", group_cols=["user_id"]
    )
    stream = session_window_agg(
        _stream_events(spark, events_dir), gap="30 minutes", group_cols=["user_id"]
    )
    got = _drain(spark, stream, tmp_path_factory, "session_out")
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, got.collect()))


def test_sliding_window_parity(spark, events_dir, tmp_path_factory):
    batch = sliding_window_agg(
        spark.read.parquet(events_dir), duration="1 hour", slide="15 minutes",
        group_cols=["event_type"],
    )
    stream = sliding_window_agg(
        _stream_events(spark, events_dir), duration="1 hour", slide="15 minutes",
        group_cols=["event_type"],
    )
    got = _drain(spark, stream, tmp_path_factory, "sliding_out")
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, got.collect()))


def test_sliding_window_batch_sanity(spark, events_dir):
    # each event lands in duration/slide = 4 windows
    ev = spark.read.parquet(events_dir)
    out = sliding_window_agg(ev, duration="1 hour", slide="15 minutes", value_col=None)
    total_slots = out.agg(F.sum("cnt")).first()[0]
    assert total_slots == ev.count() * 4


def test_streaming_dedup_parity(spark, events_dir, tmp_path_factory):
    keys = ["event_type", "user_id"]
    batch_n = spark.read.parquet(events_dir).dropDuplicates(keys).count()
    stream = streaming_dedup(_stream_events(spark, events_dir), keys, ts_col="ts")
    got = _drain(spark, stream.groupBy(*keys).count(), tmp_path_factory, "dedup_out")
    # dropDuplicatesWithinWatermark may keep extra rows across batches;
    # with AvailableNow on one directory it processes per-file batches, so
    # assert the deduped key-set matches the batch key-set.
    assert got.count() == batch_n


def test_stateful_terminator_sessionize_parity(spark, events_dir, tmp_path_factory):
    """applyInPandasWithState custom state vs the batch window twin.

    A synthetic flush 'purchase' per user (far past the last event)
    closes every live session by TERMINATOR, so parity doesn't depend
    on timeout-firing order inside AvailableNow micro-batches; the
    timeout path is exercised separately below."""
    from kfai_pipeline_spark.streaming.stateful import (
        sessionize_terminator_batch,
        sessionize_terminator_stream,
    )

    ev = spark.read.parquet(events_dir).select("user_id", "ts", "event_type")
    flush = (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("mx"))
        .select(
            "user_id",
            (F.col("mx") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
            F.lit("purchase").alias("event_type"),
        )
    )
    full = ev.unionByName(flush)
    flushed_dir = str(tmp_path_factory.mktemp("events_flush"))
    full.repartition(1).write.mode("overwrite").parquet(flushed_dir)

    batch = sessionize_terminator_batch(
        spark.read.parquet(flushed_dir), tiebreak_cols=["event_type"]
    )
    stream_in = (
        spark.readStream.schema(spark.read.parquet(flushed_dir).schema).parquet(flushed_dir)
    )
    stream = sessionize_terminator_stream(stream_in)
    got = _drain(spark, stream, tmp_path_factory, "stateful_sess_out")

    b = sorted(map(tuple, batch.select("user_id", "start_s", "end_s", "n_events").collect()))
    s = sorted(map(tuple, got.select("user_id", "start_s", "end_s", "n_events").collect()))
    assert len(b) > 0
    assert b == s


def test_video_records_stream_ingest(spark, tmp_path_factory):
    from kfai_pipeline_spark.operators.chunker import chunk_transcripts
    from kfai_pipeline_spark.sources.video_records import write_partitioned_json
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from kfai_pipeline_spark.sources.video_records import RAW_SNIPPET_SCHEMA
    from tests.fixtures import make_video_records

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("video_id", StringType()),
            StructField("show_name", StringType()),
            StructField("hosts", ArrayType(StringType())),
            StructField("title", StringType()),
            StructField("description", StringType()),
            StructField("published_at", LongType()),
            StructField("duration", LongType()),
            StructField("transcript", RAW_SNIPPET_SCHEMA),
        ]
    )
    raw = spark.createDataFrame(make_video_records(12), schema)
    out = str(tmp_path_factory.mktemp("vr_json"))
    # one task: every (year, month) file holds all of its month's
    # records, so a reader that keeps one record per file loses rows
    # on any core count
    write_partitioned_json(
        chunk_transcripts(raw).drop("transcript").coalesce(1), out
    )
    assert len(list(Path(out).rglob("*.json"))) < 12

    stream = read_video_records_stream(spark, out)
    assert stream.isStreaming
    got = _drain(spark, stream, tmp_path_factory, "vr_out")
    assert got.count() == 12
    assert got.where(F.col("transcript_chunks").isNotNull()).count() == 11


def test_interval_join_stream_parity(spark, events_dir, tmp_path_factory):
    """Stream-stream interval join == batch interval join on the same
    events (purchase -> same-user views in the preceding hour)."""
    from kfai_pipeline_spark.streaming.joins import interval_join

    def split(df):
        p = df.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
        v = df.where(F.col("event_type") == "view").select("event_id", "user_id", "ts")
        return p, v

    bp, bv = split(spark.read.parquet(events_dir))
    batch = interval_join(bp, bv, on="user_id", interval="1 hour").select(
        "user_id", "l_event_id", "r_event_id"
    )
    sp, sv = split(_stream_events(spark, events_dir))
    stream = interval_join(sp, sv, on="user_id", interval="1 hour").select(
        "user_id", "l_event_id", "r_event_id"
    )
    got = _drain(spark, stream, tmp_path_factory, "interval_join_parity")
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, got.collect()))
    assert b == s and len(b) > 0


def test_interval_join_left_outer_stream_parity(spark, events_dir, tmp_path_factory):
    """Left-outer stream-stream interval join vs its batch twin.

    Exact equality is impossible by design: an outer (NULL-view) row is
    emitted only once the watermark proves no matching view can still
    arrive, and nothing advances the watermark past the last events —
    so purchases in the final (interval + watermark) tail of the data
    stay buffered forever. The checkable contract is therefore
    (a) stream ⊆ batch (nothing spurious), (b) every batch row whose
    purchase is old enough to have been finalized IS present, and
    (c) matched (inner) rows agree exactly."""
    from kfai_pipeline_spark.streaming.joins import interval_join

    def split(df):
        p = df.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
        v = df.where(F.col("event_type") == "view").select("event_id", "user_id", "ts")
        return p, v

    cols = ["user_id", "l_event_id", "r_event_id", "l_ts"]
    bp, bv = split(spark.read.parquet(events_dir))
    batch = interval_join(
        bp, bv, on="user_id", interval="1 hour", how="left_outer"
    ).select(*cols)
    sp, sv = split(_stream_events(spark, events_dir))
    stream = interval_join(
        sp, sv, on="user_id", interval="1 hour", how="left_outer"
    ).select(*cols)
    got = _drain(spark, stream, tmp_path_factory, "interval_join_outer_parity")

    b = set(map(tuple, batch.collect()))
    s = set(map(tuple, got.collect()))
    assert s <= b
    import datetime

    max_ts = spark.read.parquet(events_dir).agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - datetime.timedelta(hours=1, minutes=10)
    finalized = {r for r in b if r[3] <= cutoff}
    assert finalized <= s and finalized
    # inner rows agree exactly (no watermark dependence)
    assert {r for r in b if r[2] is not None} == {r for r in s if r[2] is not None}
    # outer semantics actually exercised
    assert any(r[2] is None for r in s)


def test_foreach_batch_sink_idempotent_replay(spark, events_dir, tmp_path_factory):
    """The exactly-once contract for non-transactional sinks: an upsert
    keyed on (row key) receives identical (content, batch_id) pairs on
    replay, so re-draining the same checkpoint adds nothing new."""
    from kfai_pipeline_spark.streaming.sinks import write_stream_foreach_batch

    store: dict = {}  # (event_id) -> (batch_id, value) — fake upsert target
    batches: list = []

    def upsert(df, batch_id):
        rows = df.select("event_id", "user_id").collect()
        batches.append((batch_id, len(rows)))
        for r in rows:
            store[r.event_id] = (batch_id, r.user_id)

    ckpt = str(tmp_path_factory.mktemp("ckpt_febatch"))
    src = _stream_events(spark, events_dir)
    q = write_stream_foreach_batch(src, upsert, ckpt)
    q.awaitTermination()
    n_events = spark.read.parquet(events_dir).count()
    assert len(store) == n_events
    first = dict(store)

    # re-drain the SAME checkpoint: no new data -> write_fn not called
    # with any new batch ids, store unchanged (idempotent replay)
    q2 = write_stream_foreach_batch(_stream_events(spark, events_dir), upsert, ckpt)
    q2.awaitTermination()
    assert store == first


def test_incremental_rollup_parity_and_replay(spark, events_dir, tmp_path_factory):
    """I7 streaming twin: folding every micro-batch into the versioned
    rollup equals the batch recompute (q102's shape), and a replay of
    the same checkpoint changes nothing (version-monotonic no-op)."""
    from kfai_pipeline_spark.streaming.rollup import (
        maintain_rollup,
        read_rollup_snapshot,
    )

    keys = ["user_id", "event_type"]
    merge = {"cnt": "sum", "sum_value": "sum", "max_ts": "max"}

    def rollup(d):
        return d.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value").alias("sum_value"),
            F.max("ts").alias("max_ts"),
        )

    snap = str(tmp_path_factory.mktemp("rollup_snap"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_rollup"))
    q = maintain_rollup(
        _stream_events(spark, events_dir), rollup, keys, merge, snap, ckpt
    )
    q.awaitTermination()

    got = {
        (r.user_id, r.event_type): (r.cnt, round(r.sum_value, 2), r.max_ts)
        for r in read_rollup_snapshot(spark, snap).collect()
    }
    want = {
        (r.user_id, r.event_type): (r.cnt, round(r.sum_value, 2), r.max_ts)
        for r in rollup(spark.read.parquet(events_dir)).collect()
    }
    assert got == want and got

    # replay the SAME checkpoint: no new versions, snapshot unchanged
    import os

    versions_before = sorted(d for d in os.listdir(snap) if d.startswith("v_"))
    q2 = maintain_rollup(
        _stream_events(spark, events_dir), rollup, keys, merge, snap, ckpt
    )
    q2.awaitTermination()
    assert sorted(d for d in os.listdir(snap) if d.startswith("v_")) == versions_before
    got2 = {
        (r.user_id, r.event_type): (r.cnt, round(r.sum_value, 2), r.max_ts)
        for r in read_rollup_snapshot(spark, snap).collect()
    }
    assert got2 == want


def test_incremental_rollup_double_apply_guard(spark, events_dir, tmp_path_factory):
    """A crash AFTER the snapshot write but BEFORE the checkpoint
    commit replays the batch: the version guard must make the second
    apply a no-op instead of double-counting."""
    from kfai_pipeline_spark.streaming.rollup import (
        _read_latest_version,
        maintain_rollup,
        read_rollup_snapshot,
    )

    keys = ["user_id"]
    merge = {"cnt": "sum"}

    def rollup(d):
        return d.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))

    snap = str(tmp_path_factory.mktemp("rollup_snap2"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_rollup2"))
    q = maintain_rollup(
        _stream_events(spark, events_dir), rollup, keys, merge, snap, ckpt
    )
    q.awaitTermination()
    want = {r.user_id: r.cnt for r in read_rollup_snapshot(spark, snap).collect()}
    latest = _read_latest_version(spark, snap)
    batch = spark.read.parquet(events_dir)

    # replayed epoch: same (content, batch_id) reapplied -> guarded no-op
    from kfai_pipeline_spark.streaming.rollup import apply_batch

    assert apply_batch(batch, latest, rollup, keys, merge, snap) is False
    assert _read_latest_version(spark, snap) == latest
    after = {r.user_id: r.cnt for r in read_rollup_snapshot(spark, snap).collect()}
    assert after == want

    # a genuinely NEW batch id applies and doubles the counts
    assert apply_batch(batch, latest + 1, rollup, keys, merge, snap) is True
    doubled = {r.user_id: r.cnt for r in read_rollup_snapshot(spark, snap).collect()}
    assert doubled == {k: 2 * v for k, v in want.items()}


def test_rollup_empty_snapshot_is_typed(spark, tmp_path_factory):
    """Before the first commit, the reader must return a frame whose
    key/measure columns still resolve when a schema is supplied."""
    from kfai_pipeline_spark.streaming.rollup import read_rollup_snapshot

    empty_dir = str(tmp_path_factory.mktemp("rollup_empty"))
    typed = read_rollup_snapshot(spark, empty_dir, "user_id long, cnt long")
    assert typed.count() == 0
    assert typed.select("user_id", "cnt").columns == ["user_id", "cnt"]
    bare = read_rollup_snapshot(spark, empty_dir)
    assert bare.count() == 0 and bare.columns == []


def test_rolling_zscore_stream_parity(spark, events_dir, tmp_path_factory):
    """X23b streaming twin: the stateful trailing-window scorer must
    emit the same (mean, std, z, flag) per event as the batch RANGE
    frame — including equal-timestamp tie groups, frame eviction, and
    the sub-min_points NULL gating."""
    from kfai_pipeline_spark.operators.rolling import rolling_zscore
    from kfai_pipeline_spark.streaming.stateful import rolling_zscore_stream

    batch_src = spark.read.parquet(events_dir).select(
        "event_id", "user_id", "ts", "value"
    )
    got_batch = {
        r.event_id: r
        for r in rolling_zscore(
            batch_src, "user_id", "ts", "value", 3600, min_points=3, z_threshold=2.0
        ).collect()
    }

    stream = rolling_zscore_stream(
        _stream_events(spark, events_dir).select("event_id", "user_id", "ts", "value"),
        duration_seconds=3600, min_points=3, z_threshold=2.0,
    )
    out = _drain(spark, stream, tmp_path_factory, "zscore_stream")
    got_stream = {r.event_id: r for r in out.collect()}

    assert set(got_stream) == set(got_batch)
    import pytest as _pytest

    for eid, b in got_batch.items():
        s = got_stream[eid]
        assert s.roll_mean == _pytest.approx(round(b.roll_mean, 4), abs=2e-4), eid
        if b.roll_std is None:
            assert s.roll_std is None, eid
        else:
            assert s.roll_std == _pytest.approx(round(b.roll_std, 4), abs=2e-4), eid
        if b.zscore is None:
            assert s.zscore is None, eid
        else:
            assert s.zscore == _pytest.approx(round(b.zscore, 4), abs=2e-4), eid
        assert s.is_anomaly == b.is_anomaly, eid


def test_incremental_rollup_multi_batch(spark, events_dir, tmp_path_factory):
    """The in-stream merge path (snapshot v_N + delta -> v_N+1) must
    run across REAL micro-batches: maxFilesPerTrigger=1 over the 4-file
    fixture produces one version per batch, and the final snapshot
    still equals the batch recompute."""
    import os

    from kfai_pipeline_spark.streaming.rollup import (
        maintain_rollup,
        read_rollup_snapshot,
    )

    keys = ["user_id"]
    merge = {"cnt": "sum", "sum_value": "sum"}

    def rollup(d):
        return d.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value").alias("sum_value"),
        )

    schema = spark.read.parquet(events_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    snap = str(tmp_path_factory.mktemp("rollup_snap3"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_rollup3"))
    q = maintain_rollup(src, rollup, keys, merge, snap, ckpt)
    q.awaitTermination()

    versions = sorted(d for d in os.listdir(snap) if d.startswith("v_"))
    assert len(versions) >= 2, f"expected multiple micro-batches, got {versions}"
    got = {
        r.user_id: (r.cnt, round(r.sum_value, 2))
        for r in read_rollup_snapshot(spark, snap).collect()
    }
    want = {
        r.user_id: (r.cnt, round(r.sum_value, 2))
        for r in rollup(spark.read.parquet(events_dir)).collect()
    }
    assert got == want


def test_rollup_pointer_loss_recovers_from_listing(spark, events_dir, tmp_path_factory):
    """The _LATEST pointer is a cache, not the source of truth: if it
    vanishes (the non-atomic delete->rename window), the reader must
    recover the latest COMMITTED version from the v_N/_SUCCESS listing
    — not restart history at -1 (which would make the next apply_batch
    silently drop all prior rollup state)."""
    import os
    import shutil

    from kfai_pipeline_spark.streaming.rollup import (
        _read_latest_version,
        apply_batch,
        read_rollup_snapshot,
    )

    keys = ["user_id"]
    merge = {"cnt": "sum"}

    def rollup(d):
        return d.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))

    snap = str(tmp_path_factory.mktemp("rollup_ptr"))
    batch = spark.read.parquet(events_dir)
    assert apply_batch(batch, 0, rollup, keys, merge, snap) is True
    assert apply_batch(batch, 1, rollup, keys, merge, snap) is True
    want = {r.user_id: r.cnt for r in read_rollup_snapshot(spark, snap).collect()}

    # simulate the crash window: pointer deleted, rename never happened
    os.remove(os.path.join(snap, "_LATEST"))
    assert _read_latest_version(spark, snap) == 1
    after = {r.user_id: r.cnt for r in read_rollup_snapshot(spark, snap).collect()}
    assert after == want
    # replay guard still holds without the pointer
    assert apply_batch(batch, 1, rollup, keys, merge, snap) is False

    # an UNCOMMITTED version dir (no _SUCCESS — crashed mid parquet
    # write) must NOT be treated as committed during recovery
    crashed = os.path.join(snap, "v_7")
    shutil.copytree(os.path.join(snap, "v_1"), crashed)
    os.remove(os.path.join(crashed, "_SUCCESS"))
    # pointer is still missing (the guarded no-op above never rewrites it)
    assert not os.path.exists(os.path.join(snap, "_LATEST"))
    assert _read_latest_version(spark, snap) == 1


def test_rollup_version_gc_bounds_storage(spark, events_dir, tmp_path_factory):
    """Each commit prunes committed versions older than the retention
    window, so a long-running maintenance loop cannot grow by one full
    snapshot copy per trigger; the surviving history still reads
    correctly and retain=0 disables pruning."""
    import os

    from kfai_pipeline_spark.streaming.rollup import (
        apply_batch,
        read_rollup_snapshot,
    )

    keys = ["user_id"]
    merge = {"cnt": "sum"}

    def rollup(d):
        return d.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))

    batch = spark.read.parquet(events_dir)

    snap = str(tmp_path_factory.mktemp("rollup_gc"))
    for v in range(6):
        assert apply_batch(batch, v, rollup, keys, merge, snap, retain_versions=2)
    versions = sorted(d for d in os.listdir(snap) if d.startswith("v_"))
    assert versions == ["v_4", "v_5"]
    got = {r.user_id: r.cnt for r in read_rollup_snapshot(spark, snap).collect()}
    want = {r.user_id: 6 * r.cnt for r in rollup(batch).collect()}
    assert got == want

    # GC is OPT-IN: the default keeps every version (pruning after each
    # commit could delete a snapshot under an in-flight reader)
    keep_all = str(tmp_path_factory.mktemp("rollup_keepall"))
    for v in range(4):
        assert apply_batch(batch, v, rollup, keys, merge, keep_all)
    versions = sorted(d for d in os.listdir(keep_all) if d.startswith("v_"))
    assert versions == ["v_0", "v_1", "v_2", "v_3"]


def test_rollup_keep_everything_default_warns_once(
    spark, events_dir, tmp_path_factory, monkeypatch
):
    """The round-6 default change (retain_versions 3 -> 0) must be
    VISIBLE: leaving the default while versions accumulate past the
    threshold warns once per snapshot dir, never per commit — and an
    explicit retain_versions stays silent."""
    import warnings

    from kfai_pipeline_spark.streaming import rollup as R

    monkeypatch.setattr(R, "_RETAIN_DEFAULT_WARN_ABOVE", 2)

    keys = ["user_id"]
    merge = {"cnt": "sum"}

    def agg(d):
        return d.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))

    batch = spark.read.parquet(events_dir)
    snap = str(tmp_path_factory.mktemp("rollup_warn"))
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        for v in range(5):
            R.apply_batch(batch, v, agg, keys, merge, snap)
    hits = [w for w in rec if "retain_versions=0" in str(w.message)]
    assert len(hits) == 1, [str(w.message) for w in rec]

    bounded = str(tmp_path_factory.mktemp("rollup_warn_bounded"))
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        for v in range(5):
            R.apply_batch(batch, v, agg, keys, merge, bounded, retain_versions=3)
    assert not [w for w in rec if "retain_versions=0" in str(w.message)]


def test_streaming_neardup_index_maintenance(spark, tmp_path_factory):
    """Streaming X37 twin: each micro-batch is screened against PRIOR
    batches' signatures only (planted cross-batch copies are found,
    nothing self-matches), every batch folds into its own committed
    index directory, and a checkpoint replay is a no-op."""
    import os

    from kfai_pipeline_spark.streaming.neardup import maintain_neardup_index

    src = str(tmp_path_factory.mktemp("nd_src"))
    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "one two three four five six seven eight",
        3: "red orange yellow green blue indigo violet ultra",
        11: "alpha beta gamma delta epsilon zeta eta theta",   # copy of 1
        12: "nine ten eleven twelve thirteen fourteen fifteen sixteen",
        21: "nine ten eleven twelve thirteen fourteen fifteen sixteen",  # copy of 12
        22: "unrelated words entirely fresh content here now ok",
    }
    batches = [[1, 2, 3], [11, 12], [21, 22]]
    for i, ids in enumerate(batches):
        spark.createDataFrame(
            [(d, texts[d]) for d in ids], "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")
    # one top-level dir per file so maxFilesPerTrigger batches cleanly
    paths = [f"{src}/f{i}" for i in range(len(batches))]

    index_dir = str(tmp_path_factory.mktemp("nd_index"))
    ckpt = str(tmp_path_factory.mktemp("nd_ckpt"))
    log: list[tuple[int, tuple]] = []

    def match_fn(matches, batch_id):
        log.append((batch_id, tuple(sorted(map(tuple, matches.collect())))))

    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    q = maintain_neardup_index(stream, index_dir, ckpt, match_fn, est_threshold=0.5)
    q.awaitTermination()

    # every batch committed its own index dir
    dirs = sorted(d for d in os.listdir(index_dir) if d.startswith("batch_"))
    assert len(dirs) == len(batches)
    arrival = {}
    for d in dirs:
        bid = int(d.split("_")[1])
        for r in spark.read.parquet(os.path.join(index_dir, d)).select("doc_id").collect():
            arrival[r[0]] = bid

    all_matches = [(bid, m) for bid, ms in log for m in ms]
    pairs = {(b, i) for _, (b, i, _) in [(bid, m) for bid, m in all_matches]}
    # both planted cross-batch copies found, est 1.0
    assert any(b == 11 and i == 1 for b, i in pairs), pairs
    assert any(b == 21 and i == 12 for b, i in pairs), pairs
    for bid, (b, i, est) in all_matches:
        assert arrival[i] < bid, "matches must point at PRIOR batches only"
        assert b != i
        assert 0.5 <= est <= 1.0

    # replay: draining the same checkpoint again is a no-op
    n_calls = len(log)
    q2 = maintain_neardup_index(stream, index_dir, ckpt, match_fn, est_threshold=0.5)
    q2.awaitTermination()
    assert len(log) == n_calls, "replayed drain must not refire batches"
    assert sorted(
        d for d in os.listdir(index_dir) if d.startswith("batch_")
    ) == dirs


def test_streaming_neardup_index_without_match_sink(spark, tmp_path_factory):
    """match_fn=None runs index-only maintenance (sign everything,
    screen nothing) — the bootstrap mode for backfilling history."""
    import os

    from kfai_pipeline_spark.streaming.neardup import maintain_neardup_index

    src = str(tmp_path_factory.mktemp("ndq_src"))
    spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f0")

    index_dir = str(tmp_path_factory.mktemp("ndq_index"))
    ckpt = str(tmp_path_factory.mktemp("ndq_ckpt"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    q = maintain_neardup_index(stream, index_dir, ckpt, match_fn=None)
    q.awaitTermination()
    dirs = [d for d in os.listdir(index_dir) if d.startswith("batch_")]
    assert len(dirs) == 1
    sigs = spark.read.parquet(os.path.join(index_dir, dirs[0]))
    assert sigs.count() == 2 and "h0" in sigs.columns


def test_rolling_zscore_backfill_parity_and_replay(spark, events_dir, tmp_path_factory):
    """X23b JVM bulk arm: draining time-sliced micro-batches through the
    foreachBatch RANGE-frame fold must reproduce the single-batch
    rolling_zscore exactly (the backfill parity contract: per-key event
    time non-decreasing across epochs), and a replayed drain must no-op
    behind the version guard."""
    import os

    import pytest as _pytest

    from kfai_pipeline_spark.operators.rolling import rolling_zscore
    from kfai_pipeline_spark.streaming.rollup import _read_latest_version
    from kfai_pipeline_spark.streaming.zscore_bulk import rolling_zscore_backfill

    from kfai_pipeline_spark.functions.datetime_fns import epoch_micros_fn

    cols = ["event_id", "user_id", "ts", "value"]
    events = spark.read.parquet(events_dir).select(*cols)
    # slice history into 4 time ranges written SEQUENTIALLY (file-source
    # triggers follow modification time, so epoch order = time order)
    src = str(tmp_path_factory.mktemp("zb_src"))
    micros = epoch_micros_fn(events, "ts")
    ev_us = events.withColumn("__us", micros(F.col("ts")))
    bounds = [r[0] for r in ev_us.selectExpr(
        "percentile(__us, array(0.25, 0.5, 0.75)) as p"
    ).selectExpr("explode(p)").collect()]
    slices = [
        ev_us.where(F.col("__us") <= bounds[0]),
        ev_us.where((F.col("__us") > bounds[0]) & (F.col("__us") <= bounds[1])),
        ev_us.where((F.col("__us") > bounds[1]) & (F.col("__us") <= bounds[2])),
        ev_us.where(F.col("__us") > bounds[2]),
    ]
    for i, sl in enumerate(slices):
        sl.select(*cols).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")

    out_dir = str(tmp_path_factory.mktemp("zb_out"))
    state_dir = str(tmp_path_factory.mktemp("zb_state"))
    ckpt = str(tmp_path_factory.mktemp("zb_ckpt"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    q = rolling_zscore_backfill(
        stream, out_dir, state_dir, ckpt,
        duration_seconds=3600, min_points=3, z_threshold=2.0,
    )
    q.awaitTermination()

    batch_dirs = sorted(d for d in os.listdir(out_dir) if d.startswith("batch_"))
    assert len(batch_dirs) == 4
    got = {
        r.event_id: r
        for r in spark.read.parquet(*[os.path.join(out_dir, d) for d in batch_dirs]).collect()
    }
    want = {
        r.event_id: r
        for r in rolling_zscore(
            events, "user_id", "ts", "value", 3600, min_points=3, z_threshold=2.0
        ).collect()
    }
    assert set(got) == set(want)
    for eid, b in want.items():
        s = got[eid]
        for f in ("roll_mean", "roll_std", "zscore"):
            bv, sv = getattr(b, f), getattr(s, f)
            if bv is None:
                assert sv is None, (eid, f)
            else:
                assert sv == _pytest.approx(bv, abs=2e-4), (eid, f)
        assert s.is_anomaly == b.is_anomaly, eid

    # replay: same checkpoint drains nothing, version pointer unmoved
    latest = _read_latest_version(spark, state_dir)
    assert latest == 3
    q2_ = rolling_zscore_backfill(
        stream, out_dir, state_dir, ckpt,
        duration_seconds=3600, min_points=3, z_threshold=2.0,
    )
    q2_.awaitTermination()
    assert _read_latest_version(spark, state_dir) == latest
    assert sorted(d for d in os.listdir(out_dir) if d.startswith("batch_")) == batch_dirs

    # the tail snapshot stays bounded: every retained row is within the
    # frame of its key's newest event
    tail = spark.read.parquet(f"{state_dir}/v_{latest}")
    from pyspark.sql.window import Window as _W

    viol = (
        tail.withColumn("__us", epoch_micros_fn(tail, "ts")(F.col("ts")))
        .withColumn("__mx", F.max("__us").over(_W.partitionBy("user_id")))
        .where(F.col("__us") < F.col("__mx") - 3600 * 1e6)
        .count()
    )
    assert viol == 0


def test_maintain_ann_index_stream_sq8_serves_streamed_docs(spark, tmp_path_factory):
    """X52 streaming twin: an SQ8 index seeded from the backfill half
    and maintained from a 2-file stream of the rest must probe
    identically to a batch build+append over the union — and streamed
    epochs land as _SUCCESS-gated batch dirs the probe unions in."""
    import os

    from pyspark.sql import functions as F

    from kfai_pipeline_spark.operators.similarity import sq8_topk
    from kfai_pipeline_spark.operators.similarity import (
        append_ann_index,
        write_sq8_index,
    )
    from kfai_pipeline_spark.streaming.index_maintain import (
        maintain_ann_index_stream,
    )

    root = str(tmp_path_factory.mktemp("idx_stream"))
    rows = [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(40)]
    corpus = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    seed = corpus.where("doc_id % 2 = 0")
    rest = corpus.where("doc_id % 2 = 1")

    # streamed index: seed build + 2-epoch maintenance
    live = os.path.join(root, "live")
    write_sq8_index(seed, live, id_col="doc_id")
    src = os.path.join(root, "src")
    rest.where("doc_id < 20").coalesce(1).write.parquet(f"{src}/f0")
    rest.where("doc_id >= 20").coalesce(1).write.parquet(f"{src}/f1")
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    q = maintain_ann_index_stream(stream, live, os.path.join(root, "ckpt"))
    q.awaitTermination()
    batch_dirs = [
        d for d in os.listdir(os.path.join(live, "codes_batches"))
        if d.startswith("batch_")
    ]
    assert len(batch_dirs) == 2

    # reference index: batch build + batch append over the same halves
    ref = os.path.join(root, "ref")
    write_sq8_index(seed, ref, id_col="doc_id")
    append_ann_index(rest, ref, id_col="doc_id")

    qdf = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0, 0.0, 1.0, 2.0, 3.0])],
        ["query_id", "embedding"],
    )
    kw = dict(k=7, refine=8, vectors=corpus, id_col="doc_id")
    got = [tuple(r) for r in sq8_topk(spark, live, qdf, **kw).collect()]
    want = [tuple(r) for r in sq8_topk(spark, ref, qdf, **kw).collect()]
    assert got == want and len(got) == 7
    # streamed docs (odd ids) are retrievable
    assert any(r[1] % 2 == 1 for r in got)


def test_maintain_ann_index_stream_ivfpq(spark, tmp_path_factory):
    """IVFPQ arm: streamed epochs encode against the frozen books and
    probe identically to the batch append."""
    import os

    from kfai_pipeline_spark.operators.similarity import (
        append_ann_index,
        ivfpq_topk,
        train_ivfpq,
        write_ivfpq_index,
    )
    from kfai_pipeline_spark.streaming.index_maintain import (
        maintain_ann_index_stream,
    )

    root = str(tmp_path_factory.mktemp("idx_stream_pq"))
    rows = [(i, [float((i * 13 + j * 3) % 7 - 3) for j in range(8)])
            for i in range(60)]
    corpus = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    seed = corpus.where("doc_id % 2 = 0")
    rest = corpus.where("doc_id % 2 = 1")
    cents, books = train_ivfpq(seed, n_clusters=4, m=4, id_col="doc_id")

    live = os.path.join(root, "live")
    write_ivfpq_index(seed, live, cents, books, id_col="doc_id")
    src = os.path.join(root, "src")
    rest.coalesce(1).write.parquet(f"{src}/f0")
    stream = spark.readStream.schema(corpus.schema).parquet(f"{src}/f*")
    q = maintain_ann_index_stream(stream, live, os.path.join(root, "ckpt"))
    q.awaitTermination()

    ref = os.path.join(root, "ref")
    write_ivfpq_index(seed, ref, cents, books, id_col="doc_id")
    append_ann_index(rest, ref, id_col="doc_id")

    qdf = spark.createDataFrame(
        [(0, [1.0, -1.0, 2.0, 0.5, -0.5, 1.5, -2.0, 1.0])],
        ["query_id", "embedding"],
    )
    kw = dict(k=6, nprobe=4, refine=16, vectors=corpus, id_col="doc_id")
    got = [tuple(r) for r in ivfpq_topk(spark, live, qdf, **kw).collect()]
    want = [tuple(r) for r in ivfpq_topk(spark, ref, qdf, **kw).collect()]
    assert got == want and len(got) == 6
