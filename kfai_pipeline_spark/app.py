"""End-to-end pipeline application: the reference's CLI stages
(/root/reference/src/kfai/cli.py:9-17) as Spark jobs over a workspace
directory.

Stage map (reference menu number -> function):

| # | Reference                      | Here                               |
|---|--------------------------------|------------------------------------|
| 1 | fetch_raw_data.run             | ``extract``  — catalog diff -> chunk -> partitioned raw JSON |
| 2 | process_failed_videos.run      | folded into ``extract`` dead-letter routing (skip list) |
| 3 | transcribe_failures.run        | ``transcribe_failed`` — stubbed ASR over audio binaries |
| 4 | clean_locally.run              | ``transform`` — per-video all-or-nothing clean + integrity |
| 5 | build_vector_store.run         | ``load`` — explode -> resume anti-join -> embed -> vector parquet |
| 6 | interactive_qa.run             | ``interact`` — CLI QA REPL over the RAG plan (``query`` is the batch form) |
| 7 | gradio_app.run                 | ``interact_gui`` (stage "8" here; "7" is curate) — optional Gradio chat |

Maintenance stages beyond the reference menu: "9" ``optimize`` (X50b
table maintenance over the store) and "10" ``index`` (X53 ANN
serving-index lifecycle — init / incremental epoch / drift-triggered
rebuild; the reference's build_vector_store resume shape under the
committed version protocol).

Workspace layout (all under ``workdir``):
    raw/        partitioned video-record JSON (stage 1 + 3 output)
    audio/      downloaded audio chunks {video_id}_chunk_{i}.* (stage 3 input)
    cleaned/    cleaned records (stage 4 output)
    store/      chunk-grain vector parquet — the pgvector mirror (stage 5)
    index/      ANN serving root (stage 10; versioned, _LATEST pointer)
    skip.json   dead-letter list (I3)

Every stage is incremental: rerunning any stage with unchanged inputs
adds zero rows (anti-join resume, I1/I2) and writes no file, because each
stage checks its diffed input with one ``isEmpty()`` before any Python UDF
runs. One exception: transform diffs raw/ against cleaned/ only, so it
cleans a video it dead-lettered again on every run, and that run's empty
write refreshes ``cleaned/_SUCCESS``.

Each ingest stage runs its plan once. The stage's counts and dead-letter
ids come from the write itself: metrics observed on the written frame
(``session.observe``, built on ``pyspark.sql.Observation``) are collected
in the same execution, where a ``count()`` or ``collect()`` beside the
write would run the scans, the cleaner or the encoder again.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kfai_pipeline_spark.operators.chunker import chunk_transcripts, explode_chunks
from kfai_pipeline_spark.operators.embed import Encoder, embed_texts
from kfai_pipeline_spark.operators.llm_clean import clean_chunks_grouped, identity_clean
from kfai_pipeline_spark.operators.pipeline import new_work
from kfai_pipeline_spark.operators.similarity import _fs_exists
from kfai_pipeline_spark.sources.skip_list import (
    filter_skipped,
    load_skip_set,
    read_skip_ids,
    write_skip_ids,
)
from kfai_pipeline_spark.sources.video_records import (
    read_video_records,
    write_partitioned_json,
)
from kfai_pipeline_spark.session import observe


def _dir(workdir: str, name: str) -> str:
    return os.path.join(workdir, name)


def _unprocessed(spark: SparkSession, source: DataFrame, done_dir: str) -> DataFrame:
    """Videos of ``source`` not yet in the video records under
    ``done_dir``; all of them on the first run, when the directory does
    not exist yet. The directory is checked on the filesystem: a read of
    a missing path fails analysis, and once a write in the session has
    been observed (``session.observe``), the observation listener logs
    every such failure as an ERROR."""
    if not _fs_exists(spark, done_dir):
        return source
    return new_work(source, read_video_records(spark, done_dir), "video_id")


def _extend_skip_list(path: str, ids) -> int:
    """Add the driver-held ``ids`` to the skip list at ``path``; returns
    its size. No frame is built, so this starts no Spark job."""
    return write_skip_ids(sorted({*read_skip_ids(path), *ids}), path)


def extract(
    spark: SparkSession,
    catalog: DataFrame,
    workdir: str,
    chunk_size: int = 1000,
    chunk_overlap: int = 200,
) -> dict[str, int]:
    """Stage 1: diff the catalog against processed output + skip list,
    chunk new videos' transcripts, write partitioned raw JSON.

    ``catalog`` carries the §3.2 merge output: one row per video with a
    raw ``transcript`` snippet array (NULL = transcript unavailable ->
    skip list, ref processing.py:40-52)."""
    raw_dir = _dir(workdir, "raw")
    skip_path = _dir(workdir, "skip.json")

    skip = load_skip_set(spark, skip_path)
    todo = filter_skipped(_unprocessed(spark, catalog, raw_dir), skip)
    if todo.isEmpty():
        return {"new_videos": 0, "skip_list": _extend_skip_list(skip_path, [])}

    # one execution writes the new videos and reports on them: the count
    # written and the no-transcript ids, which dead-letter into the skip
    # list (ref transcript.py sentinel)
    has_transcript = F.col("transcript").isNotNull()
    todo, seen = observe(
        todo,
        F.count_if(has_transcript).alias("new_videos"),
        F.collect_set(F.when(~has_transcript, F.col("video_id"))).alias("failed"),
    )
    chunked = chunk_transcripts(
        todo.where(has_transcript), chunk_size=chunk_size, chunk_overlap=chunk_overlap
    ).drop("transcript")
    write_partitioned_json(chunked, raw_dir, mode="append")
    wrote = seen()
    return {
        "new_videos": wrote["new_videos"],
        "skip_list": _extend_skip_list(skip_path, wrote["failed"]),
    }


def transcribe_failed(
    spark: SparkSession,
    catalog: DataFrame,
    workdir: str,
    decoder: str = "stub",
    chunk_size: int = 1000,
    chunk_overlap: int = 200,
) -> dict[str, int]:
    """Stage 3: recover transcript-less videos from downloaded audio
    (ref transcribe_failures.py:29-125).

    Audio chunks live at ``workdir/audio/{video_id}_chunk_{i}.*`` (the
    reference's 2-hour-chunk naming, youtube.py:99-104). Each chunk runs
    the ASR kernel (stub by default; ``decoder="wav"`` exercises the
    real header decode) with the W4 offset shift, segments reassemble
    into a transcript per video, metadata joins back from the catalog,
    and the chunked records append to raw/ exactly like stage 1 output.
    Already-recovered videos (present in raw/) are skipped — same
    file-exists checkpoint as the reference (transcribe_failures.py:67-68).
    """
    from kfai_pipeline_spark.operators.multimodal import (
        read_binary_files,
        transcribe_audio,
    )

    audio_dir = _dir(workdir, "audio")
    if not os.path.isdir(audio_dir):
        return {"transcribed_videos": 0}

    media = read_binary_files(spark, audio_dir).select(
        F.regexp_extract(F.col("path"), r"([^/]+)_chunk_\d+\.\w+$", 1).alias("video_id"),
        F.regexp_extract(F.col("path"), r"_chunk_(\d+)\.\w+$", 1)
        .cast("long")
        .alias("chunk_idx"),
        "path",
        "content",
    )
    raw_dir = _dir(workdir, "raw")
    media = _unprocessed(spark, media, raw_dir)
    if media.isEmpty():
        return {"transcribed_videos": 0}

    segs = transcribe_audio(media, chunk_idx_col="chunk_idx", decoder=decoder)
    segs = segs.withColumn(
        "video_id", F.regexp_extract(F.col("path"), r"([^/]+)_chunk_\d+\.\w+$", 1)
    )
    # reassemble: segments sort by start (struct compare on the leading
    # field), then fields reorder to the snippet schema (text,start,duration)
    transcripts = segs.groupBy("video_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("start", "text", "duration"))),
            lambda s: F.struct(
                s["text"].alias("text"),
                s["start"].alias("start"),
                s["duration"].alias("duration"),
            ),
        ).alias("transcript")
    )
    meta = catalog.drop("transcript")
    recovered = meta.join(transcripts, "video_id")
    chunked, seen = observe(
        chunk_transcripts(
            recovered, chunk_size=chunk_size, chunk_overlap=chunk_overlap
        ).drop("transcript"),
        F.count(F.lit(1)).alias("n"),
    )
    write_partitioned_json(chunked, raw_dir, mode="append")
    # no metrics when adaptive execution finds the catalog join empty
    return {"transcribed_videos": seen().get("n", 0)}


def transform(
    spark: SparkSession,
    workdir: str,
    clean_fn=identity_clean,
) -> dict[str, int]:
    """Stage 4: clean every raw video not yet cleaned, all-or-nothing
    per video, verify integrity, write cleaned JSON; failures dead-letter
    into the skip list (ref clean_locally.py:42-76)."""
    cleaned_dir = _dir(workdir, "cleaned")
    raw = read_video_records(spark, _dir(workdir, "raw"))
    todo = _unprocessed(spark, raw, cleaned_dir)
    if todo.isEmpty():
        return {"cleaned_videos": 0, "failed_videos": 0}

    # Clean, verify and route in ONE execution, with nothing persisted:
    # each chunk is cleaned once (an injected LLM clean is the expensive
    # call), and the verdict that writes a video to cleaned/ is the one
    # that leaves it off the skip list, so a non-deterministic clean_fn
    # cannot land a video in both. The verdict is integrity_check's,
    # computed without its join: a video passes when every raw chunk
    # count of it equals every cleaned chunk count, and a NULL count
    # fails. A window over the raw rows gives each row its video's one
    # raw count (NULL when the rows disagree or one is NULL); the
    # cleaner groups on the same exchange, so the window adds no
    # shuffle. The cleaner keeps each row's chunk count, so comparing
    # every row's cleaned count with that raw count finishes the check.
    n_chunks = F.size("transcript_chunks")
    video = Window.partitionBy("video_id")
    agreed = ~F.bool_or(n_chunks.isNull()).over(video) & (
        F.min(n_chunks).over(video) == F.max(n_chunks).over(video)
    )
    counted = todo.withColumn("__n_raw", F.when(agreed, n_chunks))
    cleaned_ok = F.coalesce(F.col("clean_ok"), F.lit(False))
    intact = F.coalesce(F.col("__n_raw") == n_chunks, F.lit(False))
    tagged = clean_chunks_grouped(counted, clean_fn).withColumn(
        "__ok", cleaned_ok & intact
    )
    tagged, seen = observe(
        tagged,
        F.count_if("__ok").alias("cleaned_videos"),
        F.count_if(~cleaned_ok).alias("failed_videos"),
        F.collect_set(F.when(~F.col("__ok"), F.col("video_id"))).alias("failed"),
    )
    good = tagged.where("__ok").drop("__n_raw", "clean_ok", "__ok")
    write_partitioned_json(good, cleaned_dir, mode="append")
    wrote = seen()
    _extend_skip_list(_dir(workdir, "skip.json"), wrote["failed"])
    return {k: wrote[k] for k in ("cleaned_videos", "failed_videos")}


def load(
    spark: SparkSession,
    workdir: str,
    encoder: Encoder | None = None,
    batch_size: int = 128,
) -> dict[str, int]:
    """Stage 5: explode cleaned records to chunk grain, resume-anti-join
    against the store on (video_id, start_time), embed the remainder,
    append to the vector parquet (the pgvector mirror; a JDBC sink swaps
    in via sources.jdbc.write_table)."""
    cleaned = read_video_records(spark, _dir(workdir, "cleaned"))
    store_dir = _dir(workdir, "store")

    grain = explode_chunks(
        cleaned,
        keep_cols=["video_id", "show_name", "hosts", "title", "published_at"],
    )
    # reference floors missing published_at to 2012-01-01 (build_vector_store.py:67-69)
    grain = grain.withColumn(
        "published_at",
        F.when(
            F.col("published_at").isNull() | (F.col("published_at") <= 0), 1325376000
        ).otherwise(F.col("published_at")),
    )
    todo = grain
    if _fs_exists(spark, store_dir):
        # only the resume keys, with their schema pinned: no inference job,
        # and a store/ left empty by a failed first write still reads
        done = spark.read.schema("video_id string, start_time double").parquet(store_dir)
        todo = new_work(grain, done, ["video_id", "start_time"])
    if todo.isEmpty():
        return {"chunks_added": 0}

    # the write reports its own row count, so the encoder runs once per chunk
    embedded, seen = observe(
        embed_texts(todo, encoder, batch_size=batch_size), F.count(F.lit(1)).alias("n")
    )
    embedded.write.mode("append").parquet(store_dir)
    return {"chunks_added": seen()["n"]}


def query(
    spark: SparkSession,
    workdir: str,
    question: str,
    parser,
    embedder,
    synthesizer,
    k: int = 120,
    use_index: bool = False,
    refine: int = 8,
):
    """Stage 6 (batch form): the RAG plan over the loaded store.
    ``use_index=True`` serves through the stage-10 serving root
    (``<workdir>/index``) — the tiered ANN arm with the lifecycle
    pointer resolved per query and the index KIND read from the
    serving manifest (sq8 and ivfpq roots both serve without the
    caller restating the kind; ``refine`` sizes the probe pool — see
    retrieve_tiered's exhaustive-probe note)."""
    from kfai_pipeline_spark.plans.rag import answer_query

    store = spark.read.parquet(_dir(workdir, "store"))
    if use_index:
        from kfai_pipeline_spark.operators.similarity import index_kind

        root = _dir(workdir, "index")
        return answer_query(
            _with_chunk_id(store), question, parser, embedder, synthesizer,
            k=k, retrieval="tiered", tier="ann",
            index_path=root, id_col="__chunk_id", refine=refine,
            index_kind=index_kind(spark, root),
        )
    return answer_query(store, question, parser, embedder, synthesizer, k=k)


def interact(
    spark: SparkSession,
    workdir: str,
    parser=None,
    embedder=None,
    synthesizer=None,
    k: int = 120,
    input_fn=input,
    output_fn=print,
) -> dict[str, int]:
    """Stage 6 (interactive form): the reference's CLI QA loop (ref
    interactive_qa.py:7-36) over the loaded store. LLM boundaries
    default to the deterministic stubs; production injects real ones.
    ``input_fn``/``output_fn`` are injectable so tests (and chained
    runs) can script a session."""
    from kfai_pipeline_spark.plans import interactive as I

    store = spark.read.parquet(_dir(workdir, "store"))
    session = I.QueryAgentSession(
        store,
        parser=parser or I.default_parser,
        embedder=embedder,
        synthesizer=synthesizer or I.default_synthesizer,
        k=k,
    )
    n = I.run_repl(session, input_fn=input_fn, output_fn=output_fn)
    return {"questions_answered": n}


def interact_gui(
    spark: SparkSession,
    workdir: str,
    parser=None,
    embedder=None,
    synthesizer=None,
    k: int = 120,
) -> None:
    """Stage 8: the Gradio GUI twin (ref gradio_app.py:8-64; stage 7
    there — 7 is taken by curate here). Raises NotImplementedError
    naming the optional dependency when gradio is absent."""
    from kfai_pipeline_spark.plans import interactive as I

    store = spark.read.parquet(_dir(workdir, "store"))
    session = I.QueryAgentSession(
        store,
        parser=parser or I.default_parser,
        embedder=embedder,
        synthesizer=synthesizer or I.default_synthesizer,
        k=k,
    )
    I.run_gradio(session)


def curate(
    spark: SparkSession,
    workdir: str,
    min_tokens: int = 5,
    max_tokens: int = 10_000,
    min_stop_ratio: float = 0.0,
    sample_rate: float = 1.0,
) -> dict[str, int]:
    """Stage 7: training-data curation over the loaded store — the
    composed X-surface as a pipeline stage: length/quality gates ->
    exact-dedup keeper election -> deterministic hash sample
    (plans/curation.py, single-pass flag columns). Writes the surviving
    chunk rows to ``curated/`` and returns the funnel counts.

    The chunk key is (video_id, start_time) — stringified into one
    surrogate id so keeper election (min id per exact-text group) stays
    deterministic.
    """
    from kfai_pipeline_spark.plans.curation import curation_flags

    store = spark.read.parquet(_dir(workdir, "store"))
    keyed = store.withColumn(
        "__cid",
        F.concat_ws("#", F.col("video_id"), F.col("start_time").cast("string")),
    )
    flags = curation_flags(
        keyed,
        text_col="text",
        id_col="__cid",
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        min_stop_ratio=min_stop_ratio,
        sample_rate=sample_rate,
    )
    # the funnel counts come from the flags the write's semi join runs on
    funnel = [
        F.count(F.lit(1)).alias("raw"),
        F.count_if("ok_len").alias("len_ok"),
        F.count_if("ok_quality").alias("quality_ok"),
        F.count_if("ok_dedup").alias("deduped"),
        F.count_if("ok_sample").alias("sampled"),
    ]
    observed, seen = observe(flags, *funnel)
    kept = observed.where(F.col("ok_sample")).select("__cid")
    curated = keyed.join(kept, "__cid", "left_semi").drop("__cid")
    curated.write.mode("overwrite").parquet(_dir(workdir, "curated"))
    # When either side of the semi join proves empty (an empty store, or
    # gates that keep no chunk), adaptive execution replaces the join with
    # an empty relation and drops the observed node with it. Only then are
    # the counts aggregated apart, one more pass over the store.
    wrote = seen() or flags.agg(*funnel).first().asDict()
    return {k: wrote[k] for k in ("raw", "len_ok", "quality_ok", "deduped", "sampled")}


def optimize(
    spark: SparkSession,
    workdir: str,
    table: str = "store",
    zorder_cols: list[str] | None = None,
    target_bytes: int = 128 * 1024 * 1024,
    schema=None,
) -> dict:
    """Stage 9: table maintenance over a workdir table — the composed
    X46+X48 lifecycle as a pipeline stage (operators/partitioning.py
    ``optimize_table``). Compacts ``<workdir>/<table>/`` into
    ``<workdir>/<table>_opt/`` (z-ordered when ``zorder_cols`` is
    given), committed behind ``_SUCCESS``; the caller flips its serving
    pointer to the optimized copy (the rollup.py version protocol) —
    this stage never renames in place. Default clusters the vector
    store on its chunk key (video_id, start_time): the RAG serving
    path's post-probe join and the citation semi-join both filter on
    exactly those columns.

    ``schema`` pins the table's read schema; when None, optimize_table
    resolves the catalog pin registered for the workdir table path
    (catalog.pin_table_schema(workdir, table, ...)) — required on
    multi-vintage tables, where inference crashes on widened columns
    and silently drops added ones (§5v).
    """
    from kfai_pipeline_spark.operators.partitioning import optimize_table

    if zorder_cols is None:
        zorder_cols = ["video_id", "start_time"]
    return optimize_table(
        spark,
        _dir(workdir, table),
        _dir(workdir, f"{table}_opt"),
        zorder_cols=zorder_cols,
        target_bytes=target_bytes,
        schema=schema,
    )


def _with_chunk_id(df: DataFrame) -> DataFrame:
    """Deterministic 64-bit surrogate id over the store's composite
    chunk key (video_id, start_time) — the serving-index lifecycle
    keys codes by ONE id column. xxhash64's birthday bound is ~5x10^9
    rows at even odds, far above any per-show store this app manages;
    a deployment growing toward that scale should persist a real chunk
    id at load time instead of synthesizing one here."""
    return df.withColumn(
        "__chunk_id",
        F.xxhash64("video_id", F.col("start_time").cast("string")),
    )


def index_maintain(
    spark: SparkSession,
    workdir: str,
    kind: str = "sq8",
    table: str = "store",
    max_frac_out_of_range: float = 0.05,
    min_p10_cos: float | None = None,
    n_clusters: int = 16,
    m: int = 8,
) -> dict:
    """Stage 10: ANN serving-index maintenance over the vector store —
    the X53 lifecycle as a pipeline stage (the reference resumes its
    pgvector store from the materialized table, ref
    build_vector_store.py:38-69; this is that resume shape under the
    committed version protocol). Each run:

    - no committed version under ``<workdir>/index`` → full build
      (``init_serving_index``) → ``{"action": "init"}`` — unless the
      store is EMPTY, which is a no-op (an empty init would wedge
      every later run: nothing to drift-measure against); a root that
      somehow serves zero codes over a non-empty store rebuilds
      unconditionally (``stats: None``) for the same reason;
    - store rows not yet in the serving codes (left-anti on the chunk
      id) → measure THEIR drift against the serving artifacts
      (``rebuild_if_drifted``): on breach the index retrains from the
      full store into v_{N+1} (``"rebuild"``), otherwise the delta
      lands as one stamped epoch (``"epoch"``);
    - nothing new → ``{"action": "none"}``.

    Ingest-writer concurrency (round-12): this stage writes epochs as
    writer ``app-stage10`` and allocates ids past every epoch-id CLAIM
    (a streaming maintainer's in-flight or crashed batches included),
    so pointing it at a root a maintain_serving_index_stream feeds can
    no longer silently overwrite a streamed batch — the id sequences
    stay disjoint, and a true collision refuses loudly at the fence
    (write_serving_epoch) instead of un-serving documents. Serve
    through the root via ``query(use_index=True)`` or any retrieval
    entry point (``resolve_index_path`` accepts it).

    ``kind`` applies to the FIRST build only: every later operation
    reads the kind from the index (similarity.index_kind) — so the CLI
    chain (which cannot pass kwargs) reruns correctly over a root
    initialized with either kind."""
    from kfai_pipeline_spark.operators.dedup import CacheScope
    from kfai_pipeline_spark.operators.index_lifecycle import (
        init_serving_index,
        list_epoch_claims,
        list_epoch_tombstones,
        read_index_manifest,
        rebuild_if_drifted,
        rebuild_serving_index,
        serving_index_path,
        serving_version,
        write_serving_epoch,
    )
    from kfai_pipeline_spark.operators.similarity import (
        _codes_df,
        index_kind,
        list_epoch_dirs,
    )

    store = _with_chunk_id(spark.read.parquet(_dir(workdir, table)))
    root = _dir(workdir, "index")
    if serving_version(spark, root) < 0:
        if store.isEmpty():
            # an empty init would be a PERMANENT WEDGE (round-10
            # advice): the committed empty base has no stats/coarse
            # book, so every later run's drift measurement raises
            # before any rebuild decision — skip instead, and init on
            # the first run that actually has chunks
            return {"action": "none", "chunks_indexed": 0}
        init_serving_index(
            store, root, kind=kind, id_col="__chunk_id",
            n_clusters=n_clusters, m=m,
        )
        return {"action": "init", "chunks_indexed": store.count()}
    vpath = serving_index_path(spark, root)
    seen = _codes_df(spark, vpath).select("__chunk_id")
    if seen.isEmpty():
        # a root committed EMPTY by a pre-guard run (or drained by
        # upstream deletes): it serves nothing and its artifacts carry
        # nothing to drift from — rebuild unconditionally under the
        # manifest's recipe rather than wedge in index_drift_stats
        if store.isEmpty():
            return {"action": "none", "chunks_indexed": 0}
        manifest = read_index_manifest(spark, vpath) or {}
        rebuild_serving_index(
            store, root, kind=index_kind(spark, vpath), id_col="__chunk_id",
            n_clusters=int(manifest.get("n_clusters", n_clusters)),
            m=int(manifest.get("m", m)),
            opq_iters=int(manifest.get("opq_iters", 0) or 0),
        )
        return {
            "action": "rebuild",
            "chunks_indexed": store.count(),
            "stats": None,
        }
    delta = store.join(seen, "__chunk_id", "left_anti")
    n = delta.count()
    if n == 0:
        return {"action": "none", "chunks_indexed": 0}
    scope = CacheScope()
    try:
        res = rebuild_if_drifted(
            lambda: store,
            delta.select("__chunk_id", "embedding"),
            root,
            id_col="__chunk_id",
            max_frac_out_of_range=max_frac_out_of_range,
            min_p10_cos=min_p10_cos,
            n_clusters=n_clusters,
            m=m,
            scope=scope,
        )
    finally:
        scope.release()
    if res["rebuilt"]:
        return {
            "action": "rebuild",
            "chunks_indexed": store.count(),
            "stats": res["stats"],
        }
    # next epoch id clears the live dirs, the manifest's folded set,
    # AND every claim sidecar: after a compact+prune cycle the folded
    # ids outlive their (deleted) dirs until the next compaction, and
    # reusing one would commit an epoch that _codes_df permanently
    # skips — new chunks silently unserved while this stage reports
    # success; a CLAIMED id (a streaming maintainer's in-flight or
    # crashed batch — round-12) belongs to that writer forever, so
    # allocating past it keeps the two id sequences disjoint instead of
    # tripping the epoch-id fence
    manifest = read_index_manifest(spark, vpath) or {"folded": []}
    live = (bid for bid, _, _ in list_epoch_dirs(spark, root))
    claimed = (bid for bid, _ in list_epoch_claims(spark, root))
    # prune tombstones (round-13) close the legacy hole: a claim-LESS
    # pre-round-12 epoch that was folded, pruned, and then dropped from
    # the manifest by a later compaction would otherwise free its id
    # for reuse here
    pruned = list_epoch_tombstones(spark, root)
    next_id = max([*live, *claimed, *pruned, *manifest["folded"], -1]) + 1
    write_serving_epoch(
        delta, root, next_id, id_col="__chunk_id", writer="app-stage10"
    )
    return {"action": "epoch", "chunks_indexed": n, "stats": res["stats"]}


STAGES = {
    "1": ("extract", extract),
    "3": ("transcribe_failed", transcribe_failed),
    "4": ("transform", transform),
    "5": ("load", load),
    "6": ("interact", interact),
    "7": ("curate", curate),
    "8": ("interact_gui", interact_gui),
    "9": ("optimize", optimize),
    "10": ("index", index_maintain),
}

# stages that take the source catalog (1 diffs it, 3 joins metadata back)
_CATALOG_STAGES = frozenset({"1", "3"})


def run_chain(spark: SparkSession, catalog: DataFrame, workdir: str, chain: str) -> dict:
    """Reference CLI chaining: '1>3>4>5' runs stages in order
    (ref cli.py:53-64). Returns per-stage stats."""
    stats = {}
    for cmd in (c.strip() for c in chain.split(">")):
        if cmd not in STAGES:
            raise ValueError(f"unknown stage {cmd!r}; valid: {sorted(STAGES)}")
        name, fn = STAGES[cmd]
        stats[name] = (
            fn(spark, catalog, workdir) if cmd in _CATALOG_STAGES else fn(spark, workdir)
        )
    return stats
