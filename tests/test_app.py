"""End-to-end application tests: the reference's 1>4>5 stage chain over
a workspace, incremental semantics, and the query stage on the result."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from kfai_pipeline_spark import app
from kfai_pipeline_spark.operators.embed import hash_embed
from kfai_pipeline_spark.plans.rag import Citation, ParsedQuery


@pytest.fixture(scope="module")
def catalog(spark):
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
    return spark.createDataFrame(make_video_records(20), schema).cache()


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("workspace"))


def test_full_chain(spark, catalog, workdir):
    stats = app.run_chain(spark, catalog, workdir, "1>4>5")
    assert stats["extract"]["new_videos"] == 19  # one NULL-transcript video
    assert stats["extract"]["skip_list"] == 1
    assert stats["transform"]["cleaned_videos"] == 19
    assert stats["transform"]["failed_videos"] == 0
    assert stats["load"]["chunks_added"] > 19

    store = spark.read.parquet(f"{workdir}/store")
    assert store.where(F.col("embedding").isNull()).count() == 0
    # published_at floor applied (video 1 had published_at = 0)
    assert store.where(F.col("published_at") < 1325376000).count() == 0


def _files(workdir):
    """(path, size, mtime) of every file the chain wrote under raw/,
    cleaned/ and store/."""
    out = set()
    for sub in ("raw", "cleaned", "store"):
        for dirpath, _, names in os.walk(os.path.join(workdir, sub)):
            for name in names:
                st = os.stat(os.path.join(dirpath, name))
                out.add((os.path.join(dirpath, name), st.st_size, st.st_mtime_ns))
    return out


def _counting(spark):
    """A clean_fn and an encoder that add one to a shared accumulator per
    chunk they handle, and the accumulator."""
    calls = spark.sparkContext.accumulator(0)

    def clean_fn(text, metadata):
        calls.add(1)
        return text

    def encoder(texts):
        calls.add(len(texts))
        return hash_embed(texts)

    return clean_fn, encoder, calls


def test_rerun_is_idempotent(spark, catalog, workdir):
    before = _files(workdir)
    stats = app.run_chain(spark, catalog, workdir, "1>4>5")
    assert stats["extract"]["new_videos"] == 0
    assert stats["transform"]["cleaned_videos"] == 0
    assert stats["load"]["chunks_added"] == 0
    # with nothing new, neither the cleaner nor the encoder runs, and no
    # stage adds or rewrites a file (an empty write would add a part file)
    clean_fn, encoder, calls = _counting(spark)
    assert app.transform(spark, workdir, clean_fn=clean_fn) == {
        "cleaned_videos": 0, "failed_videos": 0,
    }
    assert app.load(spark, workdir, encoder=encoder) == {"chunks_added": 0}
    assert calls.value == 0
    assert _files(workdir) == before


def test_each_chunk_cleaned_and_embedded_once(spark, catalog, tmp_path):
    """transform calls clean_fn once per chunk and load calls the encoder
    once per chunk: each stage runs its plan once, and its counts come
    from the write."""
    from kfai_pipeline_spark.sources.video_records import read_video_records

    wd = str(tmp_path)
    app.extract(spark, catalog, wd)
    n_chunks = (
        read_video_records(spark, f"{wd}/raw")
        .select(F.sum(F.size("transcript_chunks")))
        .first()[0]
    )
    clean_fn, _, cleans = _counting(spark)
    assert app.transform(spark, wd, clean_fn=clean_fn) == {
        "cleaned_videos": 19, "failed_videos": 0,
    }
    assert cleans.value == n_chunks
    _, encoder, embeds = _counting(spark)
    assert app.load(spark, wd, encoder=encoder) == {"chunks_added": n_chunks}
    assert embeds.value == n_chunks


def test_load_recovers_from_a_failed_first_write(spark, catalog, tmp_path):
    """A first load whose encoder raises fails the job and may leave an
    empty store/ behind; the next load still resumes from it and adds
    every chunk."""
    wd = str(tmp_path)
    app.run_chain(spark, catalog, wd, "1>4")

    def broken(texts):
        raise RuntimeError("encoder service unavailable")

    with pytest.raises(Exception, match="encoder service unavailable"):
        app.load(spark, wd, encoder=broken)
    n_chunks = app.load(spark, wd)["chunks_added"]
    assert n_chunks == spark.read.parquet(f"{wd}/store").count() > 19
    assert app.load(spark, wd) == {"chunks_added": 0}


def _raw_workspace(spark, wd, videos):
    """A workspace whose raw/ holds one record per (video_id, n_chunks)
    pair; ``n_chunks=None`` writes a NULL chunk array."""
    from kfai_pipeline_spark.sources.video_records import (
        VIDEO_RECORD_SCHEMA,
        write_partitioned_json,
    )

    rows = [
        (i, vid, "Alpha Show", ["Host A"], f"Episode {i}", "d", 1_600_000_000, 60,
         None if n is None else [
             {"text": f"{vid} chunk {j}", "start": float(j)} for j in range(n)
         ])
        for i, (vid, n) in enumerate(videos)
    ]
    write_partitioned_json(
        spark.createDataFrame(rows, VIDEO_RECORD_SCHEMA), os.path.join(wd, "raw")
    )


def _cleaned_and_skipped(spark, wd):
    from kfai_pipeline_spark.sources.video_records import read_video_records

    cleaned = read_video_records(spark, os.path.join(wd, "cleaned"))
    with open(os.path.join(wd, "skip.json"), encoding="utf-8") as f:
        skipped = json.load(f)
    return sorted(r[0] for r in cleaned.select("video_id").collect()), skipped


def test_transform_checks_integrity_per_video(spark, tmp_path):
    """transform's verdict is integrity_check's, per video: every raw
    chunk count of a video must equal every cleaned one. A video held
    twice in raw/ with 2 and 1 chunks fails as a whole (neither row is
    written, its id dead-letters) while the video beside it is written;
    one held twice with equal counts passes twice; a NULL chunk array
    fails; a video whose clean raises is written nowhere but the skip
    list and counts as failed."""
    wd = str(tmp_path / "unequal")
    _raw_workspace(spark, wd, [("vidDUP", 2), ("vidDUP", 1), ("vidOK", 3)])
    assert app.transform(spark, wd) == {"cleaned_videos": 1, "failed_videos": 0}
    assert _cleaned_and_skipped(spark, wd) == (["vidOK"], ["vidDUP"])

    def clean_fn(text, metadata):
        if metadata["video_id"] == "vidBAD":
            raise RuntimeError("LLM unavailable")
        return text.upper()

    wd = str(tmp_path / "mixed")
    _raw_workspace(
        spark, wd,
        [("vidSAME", 2), ("vidSAME", 2), ("vidBAD", 2), ("vidNULL", None)],
    )
    assert app.transform(spark, wd, clean_fn=clean_fn) == {
        "cleaned_videos": 2, "failed_videos": 1,
    }
    assert _cleaned_and_skipped(spark, wd) == (
        ["vidSAME", "vidSAME"], ["vidBAD", "vidNULL"],
    )


def test_rerun_recleans_a_dead_letter_but_adds_no_file(spark, tmp_path):
    """transform diffs raw/ against cleaned/ only, not against the skip
    list (a video that transcribe_failed recovers into raw/ stays on the
    skip list and must still be cleaned). So a rerun with no new input
    cleans a dead-lettered video again and reports it failed again, as
    the parent did. Its write has no rows: it adds or rewrites no part
    file, and only the cleaned/_SUCCESS marker (and its checksum) may be
    refreshed."""
    wd = str(tmp_path)
    _raw_workspace(spark, wd, [("vidOK", 2), ("vidBAD", 2)])
    calls = spark.sparkContext.accumulator(0)

    def clean_fn(text, metadata):
        calls.add(1)
        if metadata["video_id"] == "vidBAD":
            raise RuntimeError("LLM unavailable")
        return text

    def parts():
        return {f for f in _files(wd) if not f[0].endswith(("_SUCCESS", "_SUCCESS.crc"))}

    assert app.transform(spark, wd, clean_fn=clean_fn) == {
        "cleaned_videos": 1, "failed_videos": 1,
    }
    before, first_calls = parts(), calls.value
    assert app.transform(spark, wd, clean_fn=clean_fn) == {
        "cleaned_videos": 0, "failed_videos": 1,
    }
    assert calls.value - first_calls == 1  # vidBAD's first chunk, which raises
    assert parts() == before
    assert _cleaned_and_skipped(spark, wd) == (["vidOK"], ["vidBAD"])


def test_chain_job_budget(spark, catalog, tmp_path):
    """Each ingest stage over a fresh workspace runs its plan once: an
    emptiness check on its diffed input, then one write whose
    observation carries the stage's counts and dead-letter ids. The
    counts are the same at 1, 4 and 8 cores; a change that raises one
    says why in CHANGES.md."""
    from tests.fixtures import jobs_started

    catalog.count()  # the fixture's cache is built outside the counts
    wd = str(tmp_path)
    jobs = {
        stage: jobs_started(spark, lambda: app.run_chain(spark, catalog, wd, cmd))[1]
        for cmd, stage in (("1", "extract"), ("4", "transform"), ("5", "load"), ("7", "curate"))
    }
    assert jobs == {"extract": 2, "transform": 3, "load": 2, "curate": 4}


def test_incremental_new_video(spark, catalog, workdir):
    extra = (
        catalog.where(F.col("transcript").isNotNull())
        .limit(1)
        .withColumn("video_id", F.lit("vidNEW00001"))
        .withColumn("id", F.lit(999).cast("long"))
    )
    stats = app.run_chain(spark, catalog.unionByName(extra), workdir, "1>4>5")
    assert stats["extract"]["new_videos"] == 1
    assert stats["load"]["chunks_added"] > 0


def test_query_stage(spark, catalog, workdir):
    def parser(q):
        return ParsedQuery()

    def synth(q, rows):
        assert rows, "retrieval returned no context"
        return "answer", [Citation(rows[0]["video_id"], rows[0]["start_time"])]

    answer, sources = app.query(spark, workdir, "anything", parser, hash_embed, synth)
    assert answer == "answer"
    assert sources.count() == 1


def test_query_use_index_without_index_raises(spark, tmp_path):
    """``use_index=True`` on a workspace whose chain never ran stage 10
    raises the "no ANN index" error instead of guessing a kind and
    failing on a missing artifact path."""
    wd = str(tmp_path)
    vec = [float(x) for x in hash_embed(["a chunk"])[0]]
    spark.createDataFrame(
        [("vid00000001", 0.0, "Alpha Show", 1_600_000_000, "T", "a chunk", vec)],
        "video_id string, start_time double, show_name string, "
        "published_at long, title string, text string, embedding array<double>",
    ).write.parquet(f"{wd}/store")
    with pytest.raises(FileNotFoundError, match="no ANN index at"):
        app.query(
            spark, wd, "anything", lambda q: ParsedQuery(), hash_embed,
            lambda q, rows: ("answer", []), use_index=True,
        )


def test_bad_stage_rejected(spark, catalog, workdir):
    with pytest.raises(ValueError, match="unknown stage"):
        app.run_chain(spark, catalog, workdir, "1>42")


def test_optimize_stage_in_chain(spark, catalog, workdir):
    """Stage 9 (X50b): the store compacts + z-orders into store_opt
    behind _SUCCESS, content-preserving, stats returned in the chain."""
    import os

    app.run_chain(spark, catalog, workdir, "1>4>5")
    stats = app.run_chain(spark, catalog, workdir, "9")["optimize"]
    assert stats["n_rows"] == spark.read.parquet(
        os.path.join(workdir, "store")
    ).count()
    assert stats["files_after"] <= stats["n_target"]
    assert set(stats["col_stats"]) == {"video_id", "start_time"}
    opt = os.path.join(workdir, "store_opt")
    assert os.path.exists(os.path.join(opt, "_SUCCESS"))
    # the optimized copy answers the same retrieval the store does
    a = spark.read.parquet(opt).select("video_id", "start_time").collect()
    b = spark.read.parquet(os.path.join(workdir, "store")).select(
        "video_id", "start_time"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_interactive_repl_two_turn_session(spark, catalog, workdir):
    """Stage 6 twin of ref interactive_qa.py:22-36: a scripted 2-turn
    session end-to-end — banner each turn, blank input skipped, 'exit'
    quits — with citations rendered in the q06/q18 source shape
    (grouped per video, youtube watch URLs, formatted timestamps)."""
    app.run_chain(spark, catalog, workdir, "1>4>5")  # idempotent store build

    def parser(q):
        return ParsedQuery()

    def synth(q, rows):
        assert rows, "retrieval returned no context"
        return f"answer to {q}", [Citation(rows[0]["video_id"], rows[0]["start_time"])]

    script = iter(["what did Alpha Show cover?", "   ", "and the second topic?", "exit"])
    outputs: list[str] = []
    stats = app.interact(
        spark,
        workdir,
        parser=parser,
        embedder=hash_embed,
        synthesizer=synth,
        input_fn=lambda prompt: next(script),
        output_fn=outputs.append,
    )
    assert stats == {"questions_answered": 2}
    text = "\n".join(outputs)
    # banner prints before every read: 2 questions + 1 blank + 1 exit
    assert outputs.count("\n--- Ask a question, or type 'exit' to quit. ---") == 4
    assert text.count("Answer:\nanswer to ") == 2  # one per non-empty question
    assert text.count("Sources:") == 2
    # q06/q18 citation shape: per-video group with watch URL + m:ss time
    assert "  Video: " in text
    assert "https://www.youtube.com/watch?v=" in text
    assert "  Referenced at: " in text
    assert "\nExiting..." in outputs[-1]


def test_interactive_repl_no_docs_warns(spark, catalog, workdir):
    """An unanswerable question (predicate matches nothing) must warn
    and continue, not crash — ref query_agent.py:370-374."""

    def parser(q):
        return ParsedQuery(shows=["No Such Show Anywhere"])

    script = iter(["unanswerable?", "exit"])
    outputs: list[str] = []
    stats = app.interact(
        spark,
        workdir,
        parser=parser,
        embedder=hash_embed,
        input_fn=lambda prompt: next(script),
        output_fn=outputs.append,
    )
    assert stats == {"questions_answered": 0}
    assert any("WARNING: No documents found" in o for o in outputs)


def test_interactive_gui_optional_dependency():
    """Stage 8 builds a ChatInterface when gradio is present; otherwise
    the guard must raise NotImplementedError naming the dependency."""
    from kfai_pipeline_spark.plans import interactive as I

    session = object.__new__(I.QueryAgentSession)  # no spark needed for the guard
    try:
        import gradio  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="gradio"):
            I.build_gradio_app(session)
    else:
        assert I.build_gradio_app(session) is not None


def test_transcribe_failed_recovers_video(spark, catalog, tmp_path):
    # full fallback path (reference stages 2-3): the NULL-transcript
    # video lands in the skip list at extract, its "downloaded" audio
    # chunks are ASR'd by stage 3, and the recovered record flows
    # through 4>5 into the store like any other video
    import os

    wd = str(tmp_path / "ws")
    os.makedirs(wd)
    failed_vid = catalog.where(F.col("transcript").isNull()).first()["video_id"]

    stats1 = app.run_chain(spark, catalog, wd, "1")
    assert stats1["extract"]["skip_list"] == 1

    audio = tmp_path / "ws" / "audio"
    audio.mkdir()
    (audio / f"{failed_vid}_chunk_0.bin").write_bytes(b"fake-audio-chunk-0" * 100)
    (audio / f"{failed_vid}_chunk_1.bin").write_bytes(b"fake-audio-chunk-1" * 100)

    stats2 = app.run_chain(spark, catalog, wd, "3>4>5")
    assert stats2["transcribe_failed"]["transcribed_videos"] == 1
    assert stats2["transform"]["cleaned_videos"] >= 1

    store = spark.read.parquet(f"{wd}/store")
    got = store.where(F.col("video_id") == failed_vid)
    assert got.count() > 0
    # W4 offset: with a chunk size small enough that the stub segments
    # don't all merge, chunk-1 text keeps a start inside the second
    # 2-hour window (fresh workspace, direct stage call to pass the size)
    wd2 = str(tmp_path / "ws2")
    os.makedirs(wd2)
    os.symlink(str(audio), os.path.join(wd2, "audio"))
    stats_w4 = app.transcribe_failed(spark, catalog, wd2, chunk_size=24, chunk_overlap=4)
    assert stats_w4["transcribed_videos"] == 1
    from kfai_pipeline_spark.sources.video_records import read_video_records

    rec = (
        read_video_records(spark, f"{wd2}/raw")
        .where(F.col("video_id") == failed_vid)
        .first()
    )
    starts = [c["start"] for c in rec["transcript_chunks"]]
    assert starts == sorted(starts)
    assert any(s >= 7200 for s in starts)

    # rerun is a no-op: the video now exists in raw/ (file checkpoint)
    stats3 = app.run_chain(spark, catalog, wd, "3")
    assert stats3["transcribe_failed"]["transcribed_videos"] == 0


def test_curate_stage_in_chain(spark, catalog, workdir):
    stats = app.run_chain(spark, catalog, workdir, "1>4>5>7")
    funnel = stats["curate"]
    # the funnel is monotone and something survives
    assert (
        funnel["raw"] >= funnel["len_ok"] >= funnel["quality_ok"]
        >= funnel["deduped"] >= funnel["sampled"] > 0
    )
    curated = spark.read.parquet(f"{workdir}/curated")
    assert curated.count() == funnel["sampled"]
    # curated keeps the store schema (no surrogate key leakage)
    store_cols = set(spark.read.parquet(f"{workdir}/store").columns)
    assert set(curated.columns) == store_cols
    # exact-dedup held: no two curated rows share identical text
    assert curated.count() == curated.select("text").distinct().count()


@pytest.mark.parametrize(
    "gate, funnel",
    [
        ({"min_tokens": 10**6}, {"len_ok": 0, "quality_ok": 0, "deduped": 0}),
        ({"sample_rate": 0.0}, {}),
    ],
    ids=["no_chunk_long_enough", "nothing_sampled"],
)
def test_curate_keeps_nothing_reports_full_funnel(spark, catalog, workdir, gate, funnel):
    """A loaded store whose gates keep no chunk still reports its funnel:
    raw is every stored chunk, and the counts the gate leaves standing
    match an ungated curate's."""
    full = app.curate(spark, workdir)
    n_store = spark.read.parquet(f"{workdir}/store").count()
    assert full["raw"] == n_store and full["sampled"] > 0
    assert app.curate(spark, workdir, **gate) == {**full, **funnel, "sampled": 0}
    assert spark.read.parquet(f"{workdir}/curated").count() == 0
    app.curate(spark, workdir)  # later tests read the ungated curated/


def test_curate_empty_store(spark, tmp_path):
    """Curating an empty store writes an empty curated/ and reports a
    zero funnel."""
    wd = str(tmp_path)
    spark.createDataFrame(
        [], "video_id string, start_time double, text string, embedding array<float>"
    ).write.parquet(f"{wd}/store")
    assert app.curate(spark, wd) == dict.fromkeys(
        ("raw", "len_ok", "quality_ok", "deduped", "sampled"), 0
    )
    assert spark.read.parquet(f"{wd}/curated").count() == 0


def test_index_stage_lifecycle(spark, catalog, workdir):
    """Stage 10 (X53): first run builds the serving root, a rerun with
    nothing new is a no-op, a new video's chunks land incrementally
    (epoch, or rebuild when the tiny-corpus drift monitor legitimately
    breaches — both are policy-correct), and query(use_index=True)
    serves through the root identically to the brute stage-6 path."""
    import os

    from kfai_pipeline_spark.operators.index_lifecycle import serving_version

    app.run_chain(spark, catalog, workdir, "1>4>5")
    s1 = app.run_chain(spark, catalog, workdir, "10")["index"]
    assert s1["action"] == "init" and s1["chunks_indexed"] > 0
    assert serving_version(spark, os.path.join(workdir, "index")) == 0
    s2 = app.run_chain(spark, catalog, workdir, "10")["index"]
    assert s2 == {"action": "none", "chunks_indexed": 0}

    extra = (
        catalog.where(F.col("transcript").isNotNull())
        .limit(1)
        .withColumn("video_id", F.lit("vidIDX00001"))
        .withColumn("id", F.lit(1999).cast("long"))
    )
    app.run_chain(spark, catalog.unionByName(extra), workdir, "1>4>5")
    s3 = app.run_chain(spark, catalog, workdir, "10")["index"]
    assert s3["action"] in ("epoch", "rebuild"), s3
    assert s3["chunks_indexed"] > 0
    s4 = app.run_chain(spark, catalog, workdir, "10")["index"]
    assert s4["action"] == "none"

    def parser(q):
        return ParsedQuery()

    got_rows = {}

    def synth_for(key):
        def synth(q, rows):
            got_rows[key] = sorted(
                (r["video_id"], r["start_time"], r["score"]) for r in rows
            )
            return "answer", [
                Citation(rows[0]["video_id"], rows[0]["start_time"])
            ]

        return synth

    # exhaustive-probe regime so the index path is brute-identical
    store_n = spark.read.parquet(os.path.join(workdir, "store")).count()
    answer, _ = app.query(
        spark, workdir, "anything", parser, hash_embed, synth_for("idx"),
        k=10, use_index=True, refine=max(64, store_n),
    )
    assert answer == "answer"
    # the brute twin of the SAME tiered arm (rounded-score ranking) —
    # the q121 parity shape; stage 6's default multi_topic path ranks
    # on unrounded scores, so it is not the comparator here
    from kfai_pipeline_spark.plans.rag import answer_query

    answer_query(
        app._with_chunk_id(
            spark.read.parquet(os.path.join(workdir, "store"))
        ),
        "anything", parser, hash_embed, synth_for("brute"), k=10,
        retrieval="tiered", tier="brute", id_col="__chunk_id",
    )
    assert got_rows["idx"] == got_rows["brute"] and store_n > 0


def _add_video(catalog, vid, id_):
    return catalog.unionByName(
        catalog.where(F.col("transcript").isNotNull())
        .limit(1)
        .withColumn("video_id", F.lit(vid))
        .withColumn("id", F.lit(id_).cast("long"))
    )


def test_index_stage_epoch_id_clears_pruned_folded(
    spark, catalog, tmp_path_factory
):
    """Review catch: after a compact+prune cycle the folded ids outlive
    their deleted dirs; reusing one would commit an epoch _codes_df
    permanently skips — the stage would report success while the new
    chunks silently don't serve. The probe: a rerun right after an
    epoch write must see nothing new ('none'); with the id-reuse bug it
    re-detects the skipped chunks forever."""
    import os

    from kfai_pipeline_spark.operators.index_lifecycle import (
        compact_serving_index,
        prune_serving_index,
    )

    wd = str(tmp_path_factory.mktemp("ws_prune"))
    app.run_chain(spark, catalog, wd, "1>4>5")
    assert app.index_maintain(spark, wd)["action"] == "init"
    root = os.path.join(wd, "index")
    cat2 = _add_video(catalog, "vidPRN00001", 2999)
    app.run_chain(spark, cat2, wd, "1>4>5")
    s = app.index_maintain(spark, wd)
    if s["action"] == "epoch":  # drift may legitimately rebuild at tiny n
        compact_serving_index(spark, root)
        prune_serving_index(spark, root, retain_versions=1)
    cat3 = _add_video(cat2, "vidPRN00002", 3999)
    app.run_chain(spark, cat3, wd, "1>4>5")
    s2 = app.index_maintain(spark, wd)
    assert s2["action"] in ("epoch", "rebuild")
    # the decisive assert: everything new is SERVED, so a rerun is a no-op
    assert app.index_maintain(spark, wd)["action"] == "none"


def test_index_stage_ivfpq_kind_follows_manifest(
    spark, catalog, tmp_path_factory
):
    """An ivfpq root initialized explicitly keeps serving/maintaining
    as ivfpq through the kwarg-less CLI chain and query(use_index=True)
    — the manifest records the kind (and the routing baseline the
    default drift policy needs), so no caller restates it."""
    import os

    wd = str(tmp_path_factory.mktemp("ws_ivfpq"))
    app.run_chain(spark, catalog, wd, "1>4>5")
    s1 = app.index_maintain(spark, wd, kind="ivfpq", n_clusters=4)
    assert s1["action"] == "init"
    assert app.run_chain(spark, catalog, wd, "10")["index"]["action"] == "none"
    cat2 = _add_video(catalog, "vidIVF00001", 4999)
    app.run_chain(spark, cat2, wd, "1>4>5")
    # the CLI chain (kind defaults to sq8) must follow the manifest:
    # with the bug this reads <v>/stats and crashes; the baseline
    # default must come from the manifest too
    s2 = app.run_chain(spark, catalog, wd, "10")["index"]
    assert s2["action"] in ("epoch", "rebuild")

    def parser(q):
        return ParsedQuery()

    def synth(q, rows):
        assert rows
        return "ok", [Citation(rows[0]["video_id"], rows[0]["start_time"])]

    n = spark.read.parquet(os.path.join(wd, "store")).count()
    answer, _ = app.query(
        spark, wd, "anything", parser, hash_embed, synth, k=5,
        use_index=True, refine=max(64, n),
    )
    assert answer == "ok"


def test_index_stage_empty_store_never_wedges(spark, tmp_path_factory):
    """Round-10 advice (medium): stage 10 over an initially-EMPTY store
    must not commit an empty index — a pre-guard run did, and every
    later run then raised from index_drift_stats forever (a permanent
    wedge recoverable only by deleting <workdir>/index). The fixed
    shape: run1 on empty store is a no-op; run2 with chunks inits; run3
    with more chunks maintains; an idle rerun is 'none'."""
    import os

    from kfai_pipeline_spark.operators.index_lifecycle import serving_version

    wd = str(tmp_path_factory.mktemp("ws_emptystore"))
    schema = "video_id string, start_time double, embedding array<double>"
    store = os.path.join(wd, "store")
    spark.createDataFrame([], schema).write.mode("overwrite").parquet(store)
    assert app.index_maintain(spark, wd) == {
        "action": "none", "chunks_indexed": 0,
    }
    assert serving_version(spark, os.path.join(wd, "index")) == -1

    def rows(n0, n1):
        return spark.createDataFrame(
            [
                (
                    f"v{i}",
                    float(i * 30),
                    [float(1 + (i * (j + 3)) % 7) for j in range(8)],
                )
                for i in range(n0, n1)
            ],
            schema,
        )

    rows(0, 20).write.mode("overwrite").parquet(store)
    s = app.index_maintain(spark, wd)
    assert s["action"] == "init" and s["chunks_indexed"] == 20
    rows(0, 30).write.mode("overwrite").parquet(store)
    assert app.index_maintain(spark, wd)["action"] in ("epoch", "rebuild")
    assert app.index_maintain(spark, wd)["action"] == "none"


def test_index_stage_empty_committed_base_rebuilds(spark, tmp_path_factory):
    """A root a PRE-guard run committed empty (the wedge shape in the
    wild) self-heals: the next run with chunks rebuilds unconditionally
    under the manifest's recipe instead of raising from drift stats."""
    import os

    from kfai_pipeline_spark.operators.index_lifecycle import (
        init_serving_index,
        serving_version,
    )

    wd = str(tmp_path_factory.mktemp("ws_emptybase"))
    schema = "video_id string, start_time double, embedding array<double>"
    store = os.path.join(wd, "store")
    empty_codes = spark.createDataFrame(
        [], "__chunk_id long, embedding array<double>"
    )
    init_serving_index(
        empty_codes, os.path.join(wd, "index"), kind="sq8",
        id_col="__chunk_id",
    )
    spark.createDataFrame(
        [
            (
                f"v{i}",
                float(i * 30),
                [float(1 + (i * (j + 3)) % 7) for j in range(8)],
            )
            for i in range(20)
        ],
        schema,
    ).write.mode("overwrite").parquet(store)
    s = app.index_maintain(spark, wd)
    assert s["action"] == "rebuild" and s["chunks_indexed"] == 20
    assert serving_version(spark, os.path.join(wd, "index")) == 1
    assert app.index_maintain(spark, wd)["action"] == "none"


def test_index_stage_racing_stream_maintainer_no_silent_overwrite(
    spark, tmp_path_factory
):
    """Round-11 verdict carry (#2): stage 10 allocates epoch ids by
    max+1 while a streaming maintainer's ids come from its checkpoint's
    unrelated sequence — pre-fence, a collision silently un-served the
    streamed batch (write_serving_epoch overwrote unconditionally, and
    a stream's checkpoint never replays a committed batch). Now: both
    writers land on one root with disjoint ids (stage 10 allocates past
    the stream's CLAIMS, committed or in-flight), every document
    serves, and a forced id collision refuses loudly."""
    import os

    from kfai_pipeline_spark.operators.index_lifecycle import (
        list_epoch_claims,
        serving_version,
    )

    wd = str(tmp_path_factory.mktemp("ws_race"))
    root = os.path.join(wd, "index")
    schema = "video_id string, start_time double, embedding array<double>"
    store = os.path.join(wd, "store")

    def rows(n0, n1):
        return spark.createDataFrame(
            [
                (
                    f"v{i}",
                    float(i * 30),
                    [float(1 + (i * (j + 3)) % 7) for j in range(8)],
                )
                for i in range(n0, n1)
            ],
            schema,
        )

    rows(0, 20).write.mode("overwrite").parquet(store)
    assert app.index_maintain(spark, wd)["action"] == "init"  # v_0, no epochs

    # a STREAMING maintainer feeds the same root; its checkpoint id
    # sequence starts at 0 — exactly the id a max+1 stage 10 would pick
    chunks = app._with_chunk_id(rows(20, 30)).select("__chunk_id", "embedding")
    src = os.path.join(wd, "src")
    chunks.coalesce(1).write.mode("overwrite").parquet(src)
    from kfai_pipeline_spark.operators.index_lifecycle import (
        maintain_serving_index_stream,
    )

    stream = spark.readStream.schema(chunks.schema).parquet(src)
    q = maintain_serving_index_stream(
        stream, root, os.path.join(wd, "ckpt"), id_col="__chunk_id"
    )
    q.awaitTermination()
    claims = list_epoch_claims(spark, root)
    assert [bid for bid, _ in claims] == [0]
    assert claims[0][1].startswith("stream-")
    stream_codes = set(
        r[0]
        for r in spark.read.parquet(
            os.path.join(root, "codes_batches", "batch_0")
        ).select("__chunk_id").collect()
    )

    # the streamed docs must land in the corpus table too (the stage-10
    # left-anti's source of truth), plus NEW rows only stage 10 sees
    rows(0, 36).write.mode("overwrite").parquet(store)
    s = app.index_maintain(spark, wd)
    if s["action"] == "epoch":
        # stage 10 skipped the stream's claimed id: its epoch is batch_1
        assert s["chunks_indexed"] == 6  # ONLY the un-streamed delta
        claims = list_epoch_claims(spark, root)
        assert [bid for bid, _ in claims] == [0, 1]
        assert claims[1][1].startswith("app-stage10-")
        # the streamed batch was NOT overwritten
        now = set(
            r[0]
            for r in spark.read.parquet(
                os.path.join(root, "codes_batches", "batch_0")
            ).select("__chunk_id").collect()
        )
        assert now == stream_codes
    else:  # drift may legitimately rebuild at tiny n — still no loss
        assert s["action"] == "rebuild"
    # every document serves: an idle rerun detects nothing unserved
    assert app.index_maintain(spark, wd)["action"] == "none"
    assert serving_version(spark, root) >= 0

    # the direct collision arm: a writer landing on the stream's id
    # refuses loudly instead of overwriting
    from kfai_pipeline_spark.operators.index_lifecycle import (
        write_serving_epoch,
    )

    if s["action"] == "epoch":
        delta = app._with_chunk_id(rows(36, 40)).select(
            "__chunk_id", "embedding"
        )
        with pytest.raises(RuntimeError, match="claimed by writer"):
            write_serving_epoch(
                delta, root, 0, id_col="__chunk_id", writer="app-stage10"
            )
        now = set(
            r[0]
            for r in spark.read.parquet(
                os.path.join(root, "codes_batches", "batch_0")
            ).select("__chunk_id").collect()
        )
        assert now == stream_codes


def test_index_stage_legacy_claimless_pruned_id_never_reused(
    spark, tmp_path_factory
):
    """Round-13 allocator input: a PRE-round-12 epoch carries no writer
    claim, so after an r13 prune tombstones it and a later
    compact+prune cycle drops every OTHER trace (dir, claim, retained
    manifest membership), the ``._PRUNED`` tombstone is the id's only
    record — and stage 10's allocator must allocate PAST it instead of
    recycling the id."""
    import glob
    import os

    from kfai_pipeline_spark.operators.index_lifecycle import (
        compact_serving_index,
        list_epoch_claims,
        list_epoch_tombstones,
        prune_serving_index,
        read_index_manifest,
        serving_index_path,
        write_serving_epoch,
    )

    wd = str(tmp_path_factory.mktemp("ws_legacy"))
    root = os.path.join(wd, "index")
    schema = "video_id string, start_time double, embedding array<double>"
    store = os.path.join(wd, "store")

    def rows(n0, n1):
        return spark.createDataFrame(
            [
                (
                    f"v{i}",
                    float(i * 30),
                    [float(1 + (i * (j + 3)) % 7) for j in range(8)],
                )
                for i in range(n0, n1)
            ],
            schema,
        )

    rows(0, 20).write.mode("overwrite").parquet(store)
    assert app.index_maintain(spark, wd)["action"] == "init"  # v_0

    # a legacy epoch: committed normally, then its claim removed to
    # reproduce the pre-round-12 on-disk shape (no sidecar existed)
    chunks = app._with_chunk_id(rows(20, 30)).select("__chunk_id", "embedding")
    write_serving_epoch(
        chunks, root, 0, id_col="__chunk_id", writer="legacy-pre-r12"
    )
    for p in glob.glob(
        os.path.join(root, "codes_batches", "batch_0._WRITER.*")
    ):
        os.remove(p)
    assert list_epoch_claims(spark, root) == []
    rows(0, 30).write.mode("overwrite").parquet(store)  # corpus truth

    # fold + r13 prune: the dir goes, the tombstone stays
    compact_serving_index(spark, root)  # v_1 folds {0}
    prune_serving_index(spark, root, retain_versions=1)  # GC batch_0 + v_0
    assert list_epoch_tombstones(spark, root) == [0]
    assert not os.path.exists(os.path.join(root, "codes_batches", "batch_0"))

    # a later cycle drops the id from every RETAINED manifest: v_2
    # folds nothing, and pruning to it deletes v_1 (folded=[0])
    compact_serving_index(spark, root)
    prune_serving_index(spark, root, retain_versions=1)
    m = read_index_manifest(spark, serving_index_path(spark, root))
    assert list(m.get("folded", [])) == []

    # stage 10 with a fresh delta: the tombstone is the ONLY trace of
    # id 0 left — it must never be rewritten
    rows(0, 36).write.mode("overwrite").parquet(store)
    s = app.index_maintain(spark, wd)
    assert not os.path.exists(os.path.join(root, "codes_batches", "batch_0"))
    if s["action"] == "epoch":
        claims = list_epoch_claims(spark, root)
        assert [bid for bid, _ in claims] == [1]
        assert claims[0][1].startswith("app-stage10-")
        assert s["chunks_indexed"] == 6
    else:  # tiny-n drift may legitimately rebuild — id 0 still unused
        assert s["action"] == "rebuild"
    assert app.index_maintain(spark, wd)["action"] == "none"
