"""The ``app`` workload: the paths a user runs through ``app``, the CLI chain
that writes a workspace and the questions that read it.

One closed-loop client: every call waits for its reply before the next one
starts. A pass, in a fresh workspace:

1. ``ingest``: the CLI chain ``1>4>5>7>10`` (extract, transform, load,
   curate, index), one ``app.run_chain`` call per stage, over a seeded
   catalog. The first pass of a run starts cold, as the CLI does.
2. ``qa``: four questions that alternate between the brute arm
   (``app.query(use_index=False)``, the multi-topic arm the REPL uses) and
   the ANN arm (``use_index=True``, the tiered SQ8 arm over the stage-10
   root). An injected parser returns a seeded ``ParsedQuery`` filter
   (none, show, year or topic), ``hash_embed`` is the embedder and a
   synthesizer cites the first context row. Then one offline-eval batch of
   seeded query vectors through ``plans.rag.retrieve_tiered_batch`` on the
   same root.

The catalog holds 300 videos (about 550 chunks): from 300 videos up, an
ANN question starts as many Spark jobs (34) as on a 5,577-chunk store and
a brute one 6, so its top-up rounds are those of a larger store. Most of
a pass is per-job overhead, and at 1,000 videos a run took 72-96 s, more
than the run's time budget.
"""

from __future__ import annotations

import hashlib
import os
import time

from perfbench import inputs
from perfbench.harness import Clock, median, tail

STAGES = (("1", "extract"), ("4", "transform"), ("5", "load"), ("7", "curate"), ("10", "index"))
# the count each stage returns that says how much it did
STAGE_ROWS = {
    "extract": "new_videos",
    "transform": "cleaned_videos",
    "load": "chunks_added",
    "curate": "raw",
    "index": "chunks_indexed",
}
INDEX_ACTIONS = {"none": 0, "init": 1, "epoch": 2, "rebuild": 3}
ARMS = ("brute", "ann")
# (filter kind, arm) in the order asked, every kind once
ASKED = (("none", "brute"), ("show", "ann"), ("year", "brute"), ("topic", "ann"))


class Chain:
    """A seeded catalog, the chain over it into an empty workspace, and the
    stage counts the chain must report."""

    def __init__(self, seed: int, n_videos: int):
        self.records = inputs.video_catalog(n_videos, seed)
        self.expect = inputs.expected_ingest(self.records)

    def frames(self, spark) -> None:
        self.catalog = inputs.catalog_frame(spark, self.records)

    def run(self, run, workdir: str) -> None:
        """The five stage calls, each an operation, checked."""
        from kfai_pipeline_spark import app

        tr = run.tracer
        for cmd, stage in STAGES:
            clock = Clock()
            with tr.span(f"app.{stage}.first", jobs=True) as sp:
                stats = app.run_chain(run.spark, self.catalog, workdir, cmd)[stage]
            elapsed = clock.elapsed()
            ok = self.check_stage(run, stage, stats)
            run.op(f"app.{stage}", elapsed, ok)
            run.sample(f"app.{stage}.first.s", elapsed[1], "s")
            if sp is not None:
                run.sample(f"app.{stage}.first.jobs", sp.attrs["jobs"], "count")
            run.sample(f"app.{stage}.first.rows", int(stats[STAGE_ROWS[stage]]), "count")
            if stage == "index":
                run.sample("app.index.first.action", INDEX_ACTIONS[stats["action"]], "code")

    def check_stage(self, run, stage: str, stats: dict) -> bool:
        exp = self.expect
        if stage == "extract":
            return run.check(
                stats["new_videos"] == exp["new_videos"] and stats["skip_list"] == exp["null_transcripts"],
                f"extract {stats} != new_videos={exp['new_videos']} skip_list={exp['null_transcripts']}",
            )
        if stage == "transform":
            return run.check(
                stats["cleaned_videos"] == exp["new_videos"] and stats["failed_videos"] == 0,
                f"transform {stats} != cleaned_videos={exp['new_videos']}",
            )
        if stage == "load":
            return run.check(stats["chunks_added"] == exp["chunks"], f"load {stats} != {exp['chunks']} chunks")
        if stage == "curate":
            return run.check(stats["raw"] == exp["chunks"], f"curate raw {stats['raw']} != {exp['chunks']}")
        # an empty serving root is initialised
        return run.check(stats["action"] == "init", f"index action {stats['action']} != init")

    def check_store(self, run, workdir: str) -> None:
        from pyspark.sql import functions as F

        store = run.spark.read.parquet(os.path.join(workdir, "store"))
        n, n_null = store.agg(
            F.count(F.lit(1)), F.sum(F.col("embedding").isNull().cast("int"))
        ).first()
        want = self.expect["chunks"]
        run.check(n == want and not n_null, f"store holds {n} rows ({n_null} NULL embeddings), want {want}")


# ---------------------------------------------------------------- the workload


class AppWorkload:
    name = "app"

    def __init__(self, seed: int, n_videos: int = 300, batch_queries: int = 4, batch_k: int = 10):
        self.seed = seed
        self.chain = Chain(seed, n_videos)
        self.questions = inputs.questions(seed, self.chain.records)
        self.batch_queries = batch_queries
        self.batch_k = batch_k
        self.cited: dict[str, str] = {}

    def setup(self, run) -> None:
        self.chain.frames(run.spark)

    def run_pass(self, run, workdir: str) -> None:
        self.workdir = workdir
        with run.tracer.span("app.first"):
            self.chain.run(run, workdir)
        run.sample("ingest.first_s", sum(net for _, net in run.pass_ops), "s")
        self.chain.check_store(run, workdir)

        lat: dict[str, list[float]] = {a: [] for a in ARMS}
        for kind, arm in ASKED:
            lat[arm].append(self._ask(run, kind, arm))
        for arm in ARMS:
            run.sample(f"qa.{arm}_p50_s", median(lat[arm]), "s")
        self._batch(run)

    def finish(self, run) -> None:
        for arm in ARMS:
            run.record.setdefault("tails", {})[f"qa.{arm}"] = tail(run.op_samples[f"qa.{arm}"])
        run.record["cited"] = self.cited

    def trace_operators(self, run, workdir: str) -> None:
        """Traced runs only: time the operators the chain composes, called
        directly on the first batch's inputs (outside the measured pass)."""
        from pyspark.sql import functions as F

        from kfai_pipeline_spark.operators.chunker import chunk_transcripts, explode_chunks
        from kfai_pipeline_spark.operators.embed import embed_texts
        from kfai_pipeline_spark.operators.llm_clean import clean_chunks_grouped, identity_clean
        from kfai_pipeline_spark.operators.pipeline import new_work
        from kfai_pipeline_spark.sources.video_records import read_video_records

        spark, catalog = run.spark, self.chain.catalog
        raw = read_video_records(spark, os.path.join(workdir, "raw"))
        cleaned = read_video_records(spark, os.path.join(workdir, "cleaned"))
        grain = explode_chunks(cleaned, keep_cols=["video_id", "show_name", "hosts", "title", "published_at"])
        calls = {
            "operators.chunker.s": lambda: chunk_transcripts(
                catalog.where(F.col("transcript").isNotNull())
            ),
            "operators.llm_clean.s": lambda: clean_chunks_grouped(raw, identity_clean),
            "operators.embed.s": lambda: embed_texts(grain),
            "operators.pipeline.new_work_s": lambda: new_work(catalog, raw, "video_id"),
        }
        for name, build in calls.items():
            clock = Clock()
            with run.tracer.span(name, jobs=True):
                build().write.format("noop").mode("overwrite").save()
            run.sample(name, clock.net(), "s")

    def _ask(self, run, kind: str, arm: str) -> float:
        """Ask the question with filter ``kind`` through ``arm``; its net seconds."""
        from kfai_pipeline_spark import app
        from kfai_pipeline_spark.operators.embed import hash_embed
        from kfai_pipeline_spark.plans.rag import Citation, ParsedQuery

        text, filt = self.questions[kind]
        stamp: dict[str, float] = {}

        def parser(q):
            stamp["parse"] = time.perf_counter()
            return ParsedQuery(**filt)

        def embedder(texts):
            out = hash_embed(texts)
            stamp["embedded"] = time.perf_counter()
            return out

        def synth(q, rows):
            stamp["synth"] = time.perf_counter()
            cites = [Citation(rows[0]["video_id"], rows[0]["start_time"])] if rows else []
            stamp["synth_done"] = time.perf_counter()
            return "answer", cites

        clock = Clock()
        t0 = clock.t
        with run.tracer.span(f"plans.rag.{arm}", jobs=True) as sp:
            _, sources = app.query(
                run.spark, self.workdir, text, parser, embedder, synth, use_index=(arm == "ann")
            )
            cited = sources.collect()
        elapsed = clock.elapsed()
        ids = sorted((r["video_id"], tuple(r["timestamps"])) for r in cited)
        # the record keeps what each question cited, so runs of one seed
        # can be compared
        self.cited[f"{kind}/{arm}"] = hashlib.sha256(repr(ids).encode()).hexdigest()[:16]
        ok = run.check(bool(ids), f"{kind} question ({arm}) cited nothing")
        run.op(f"qa.{arm}", elapsed, ok)
        run.sample(f"plans.rag.{arm}.setup_s", stamp["parse"] - t0, "s")
        run.sample(f"plans.rag.{arm}.retrieve_s", stamp["synth"] - stamp["embedded"], "s")
        run.sample(f"plans.rag.{arm}.cite_s", t0 + elapsed[0] - stamp["synth_done"], "s")
        if sp is not None:
            run.sample(f"qa.{arm}.jobs_per_question", sp.attrs["jobs"], "count")
        return elapsed[1]

    def _batch(self, run) -> None:
        from pyspark.sql import functions as F

        from kfai_pipeline_spark import app
        from kfai_pipeline_spark.operators.embed import hash_embed
        from kfai_pipeline_spark.operators.index_lifecycle import serving_index_kind
        from kfai_pipeline_spark.plans.rag import ParsedQuery, retrieve_tiered_batch

        spark = run.spark
        texts = [f"offline eval {self.seed} {i}" for i in range(self.batch_queries)]
        qdf = spark.createDataFrame(
            [(i, v) for i, v in enumerate(hash_embed(texts))], "query_id long, embedding array<float>"
        )
        root = os.path.join(self.workdir, "index")
        clock = Clock()
        with run.tracer.span("plans.rag.batch", jobs=True) as sp:
            store = app._with_chunk_id(spark.read.parquet(os.path.join(self.workdir, "store")))
            res = retrieve_tiered_batch(
                store, qdf, ParsedQuery(), k=self.batch_k, id_col="__chunk_id",
                index_path=root, index_kind=serving_index_kind(spark, root) or "sq8",
            )
            rows = res.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()
        elapsed = clock.elapsed()
        per_query = {r["query_id"]: r["n"] for r in rows}
        ok = run.check(
            sorted(per_query) == list(range(self.batch_queries))
            and all(n == self.batch_k for n in per_query.values()),
            f"batch rows per query {per_query} != {self.batch_k} each",
        )
        run.op("qa.batch", elapsed, ok)
        run.sample("qa.batch_s", elapsed[1], "s")
        if sp is not None:
            run.sample("plans.rag.batch.jobs", sp.attrs["jobs"], "count")
        run.sample("plans.rag.batch.rows", sum(per_query.values()), "count")
