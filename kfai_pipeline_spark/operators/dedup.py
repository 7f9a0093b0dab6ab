"""Deduplication operators (X1/X2) — exact and near-duplicate.

All hot paths are JVM-side built-ins (xxhash64, higher-order array
functions, bit ops); nothing here crosses the Python boundary, so every
stage is whole-stage-codegen eligible and scales by shuffle keys:

* exact        — hash groupBy on md5(text); one shuffle.
* MinHash+LSH  — shingle -> k minhashes -> band signatures -> bucket
                 equi-join for candidates -> exact Jaccard verify ->
                 connected components. Candidate generation never forms a
                 cross product; buckets shuffle on (band, signature).
* SimHash      — 64-bit signature, banded hamming buckets, bit_count
                 verify.
* embedding    — cosine >= threshold via sign-LSH buckets (scale) or
                 brute force (oracle baseline).

The reference's only dedup is key-based seen-set/file-exists skips
(ref query_agent.py:287-298, processing.py:34-35) — ``dropDuplicates``
covers those (T4); the near-dup family is the LLM-training-data
extension surface.

API note: :func:`minhash_dedup_scoped` (and ``semantic_dedup``'s scoped
twin) is the DEFAULT entry point for pipelines — it releases every
cached/checkpointed block deterministically on exit. The unscoped
:func:`minhash_dedup` exists for plan-composition callers who manage
cache lifetime themselves; its result keeps shingle/component blocks
resident until session teardown or ``spark.catalog.clearCache()``.
"""

from __future__ import annotations

import math
import random
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kfai_pipeline_spark.operators.similarity import _as_double, dot, l2_normalize


# ---------------------------------------------------------------- exact
def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one row per distinct text (by md5). Deterministic keeper:
    the minimum value of all remaining columns' struct."""
    key = F.md5(F.col(text_col)).alias("__fp")
    other = [c for c in df.columns]
    return (
        df.select(key, F.struct(*other).alias("__row"))
        .groupBy("__fp")
        .agg(F.min("__row").alias("__row"))
        .select("__row.*")
    )


# ---------------------------------------------------------------- shingling / minhash
def _maybe_widen(df: DataFrame) -> DataFrame:
    """Widen a NARROW SCAN to full parallelism before a CPU-heavy
    narrow transform. Probes ``df.rdd.getNumPartitions()`` only when
    the static plan is exchange-free: under AQE, ``.rdd`` forces
    final-plan resolution, which MATERIALIZES every upstream shuffle
    stage — on a frame with an upstream join/aggregate the probe itself
    would execute that pipeline once and the real action again (a
    silent 2x). A plan that already contains an Exchange is AQE-sized
    anyway, so the widening is skipped there.
    """
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    if "Exchange" in buf.getvalue():
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(cores) if df.rdd.getNumPartitions() < cores // 2 else df


def _exploded_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    repartition_to: int | str | None,
) -> DataFrame:
    """(id, shingle) — every word-n-gram span occurrence, by position
    (with multiplicity). Shared kernel of :func:`word_shingles` (which
    adds set semantics) and :func:`duplicated_spans` (which counts
    occurrences); keeping it in one place keeps their tokenization
    identical by construction.

    STAGED split: a higher-order lambda re-evaluates every captured
    non-lambda subtree per element, so slicing split(text) inside the
    transform would re-split the document once per shingle — O(n^2)
    in words. Binding the array to a column first makes each slice a
    cheap attribute read; the projections don't collapse because the
    alias is non-cheap and referenced more than once.

    ``repartition_to``: the shingle transform is CPU-heavy-narrow
    (interpreted higher-order functions), so its parallelism is pinned
    to the SCAN's split count. Parquet can't split below row-group
    boundaries — a small/few-row-group input runs the whole transform
    on a handful of cores. The default ``"auto"`` widens the input to
    ``defaultParallelism`` only when it arrives narrower than half of
    it (measured: the sf1 fixture reads as 2 partitions and shingling
    50k docs took 38 s on 2 of 32 cores; widened it's one narrow
    shuffle then full-core transform). A 100 TB table is already wide,
    so auto is a no-op there; pass None to force passthrough or an int
    to pin it. See :func:`_maybe_widen` for why frames with upstream
    shuffles are never probed.
    """
    if repartition_to == "auto":
        df = _maybe_widen(df)
    elif repartition_to:
        df = df.repartition(repartition_to)
    staged = df.select(F.col(id_col), F.split(F.col(text_col), r"\s+").alias("__w"))
    w = F.col("__w")
    n_sh = F.greatest(F.size(w) - (n - 1), F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.concat_ws(" ", F.slice(w, i, n)),
    )
    return staged.select(F.col(id_col), F.explode(shingles).alias("shingle"))


def word_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    repartition_to: int | str | None = "auto",
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Built from slice+transform over the word array — no UDF. Documents
    shorter than ``n`` words contribute their full text as one shingle.
    See :func:`_exploded_spans` for the staging and ``repartition_to``
    rationale.
    """
    return _exploded_spans(df, text_col, id_col, n, repartition_to).dropDuplicates(
        [id_col, "shingle"]
    )


def minhash_signatures(
    shingles: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    hash_fn=None,
    seed_fmt: str = "\x00{}",
) -> DataFrame:
    """(id, h0..h{k-1}): k independent minhashes via seeded hashing
    (default xxhash64 with a NUL-byte seed suffix).

    Seed-by-concat keeps everything in one JVM aggregate — k min() aggs
    over one shuffle on the doc id. ``hash_fn``/``seed_fmt`` let the
    oracle-portable md5-prefix hash (text_analysis.md5_long, printable
    seed) replace xxhash64 for hash-checked twins (q55); production
    keeps the one-op JVM hash.
    """
    hash_fn = hash_fn or F.xxhash64
    aggs = [
        F.min(hash_fn(F.concat(F.col("shingle"), F.lit(seed_fmt.format(i))))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def _minhash_band_array(bands: int, rows_per_band: int) -> Column:
    """Array of per-band signature strings from h0..h{k-1} columns."""
    return F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(b),
                *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
            for b in range(bands)
        ]
    )


def minhash_candidates(
    signatures: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing at least one LSH band."""
    band_sigs = _minhash_band_array(bands, rows_per_band)
    buckets = signatures.select(F.col(id_col), F.explode(band_sigs).alias("__band"))
    a = buckets.select(F.col(id_col).alias("id_a"), "__band")
    b = buckets.select(F.col(id_col).alias("id_b"), "__band")
    # Self-join of a corpus-derived frame: both sides are corpus-size,
    # so pin a shuffle join (post-aggregate size estimates are not
    # trustworthy enough to let Catalyst broadcast one side).
    return (
        a.join(b.hint("merge"), "__band")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def jaccard_verify(
    candidates: DataFrame, shingles: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs; keeps pairs >= threshold.

    |A ∩ B| comes from a shingle equi-join restricted to candidate pairs;
    |A ∪ B| = |A| + |B| - |A ∩ B| from per-doc shingle counts.
    """
    # Every frame here scales WITH THE CORPUS (shingles explode it;
    # sizes is one row per doc). Catalyst's post-aggregate size
    # estimates are fabricated, and at sf10 it chose to BROADCAST the
    # full shingle frame — a driver OOM at scale (found by the 100x
    # spot run, not by correctness tests). hint("merge") pins every
    # corpus-side join to a shuffle join, which is the only shape that
    # survives arbitrary corpus growth.
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    sa = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    sb = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        candidates.join(sa.hint("merge"), "id_a")
        .join(sb.hint("merge"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    return (
        inter.join(
            sizes.withColumnsRenamed({id_col: "id_a", "__sz": "__sza"}).hint("merge"),
            "id_a",
        )
        .join(
            sizes.withColumnsRenamed({id_col: "id_b", "__sz": "__szb"}).hint("merge"),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("__inter") / (F.col("__sza") + F.col("__szb") - F.col("__inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _release_blocks(df: DataFrame) -> None:
    """Free a frame's executor blocks whether it came from ``persist()``
    or ``localCheckpoint()``. ``DataFrame.unpersist`` only talks to the
    cache manager, which does NOT know about checkpoint RDDs (verified:
    blocks survive it) — those are reachable via the analyzed plan's
    LogicalRDD and must be unpersisted at the RDD level."""
    df.unpersist(blocking=True)
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(True)
    except Exception:  # pragma: no cover - py4j internals shifted; cache
        pass  # manager already handled the persist() case above


class CacheScope:
    """Tracks DataFrames holding executor memory (persist /
    localCheckpoint) so a pipeline can release them deterministically —
    the scale-safety valve for loops over many corpora, where lazily
    returned plans would otherwise accrete cached partitions forever.

    Used via :func:`minhash_dedup_scoped`; also composable directly:
    ``scope.add(df.persist())`` then ``scope.release()`` when done.

    Also tracks SparkContext **broadcast variables** (``add_broadcast``):
    the numpy-kernel operators (LSH planes, IVF centroids, PQ LUTs)
    broadcast their small side and, because the returned DataFrame is
    lazy, can't destroy it themselves — a loop calling them without a
    scope accretes one executor-resident broadcast block per call.
    Pass a scope to those operators and ``release()`` destroys the
    broadcasts after the frames are unpersisted (same lifetime rule:
    derived DataFrames must not be re-evaluated after release).
    """

    def __init__(self) -> None:
        self._dfs: list[DataFrame] = []
        self._bcs: list = []

    def add(self, df: DataFrame) -> DataFrame:
        self._dfs.append(df)
        return df

    def add_broadcast(self, bc):
        """Track a ``sparkContext.broadcast`` handle for destruction at
        :meth:`release` time. Returns the handle for chaining."""
        self._bcs.append(bc)
        return bc

    def release(self) -> None:
        """Blocking-unpersist every tracked frame, then destroy tracked
        broadcasts (idempotent). After this, DataFrames derived from the
        scope are no longer usable — localCheckpoint cuts lineage, so
        dropped blocks can't recompute, and kernels that captured a
        destroyed broadcast fail on re-evaluation."""
        for d in self._dfs:
            _release_blocks(d)
        self._dfs.clear()
        for b in self._bcs:
            try:
                b.destroy()
            except Exception:  # already destroyed / context gone
                pass
        self._bcs.clear()


class ConvergenceError(RuntimeError):
    """Raised when an iterative operator exhausts its iteration budget
    with labels still moving — returning the partial result would
    silently split components."""


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    scope: CacheScope | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, component) from undirected edges (id_a, id_b) by min-label
    propagation with pointer-doubling shortcutting. Each iteration does
    one edge hop (neighbour min) and one label shortcut
    (``component := label[component]``), so the distance every vertex
    has covered toward its component's min id better than doubles per
    iteration (covered ``c`` becomes ``2(c+1)``): a path graph of
    diameter d converges in ~log2(d) iterations, and the default
    ``max_iterations=20`` covers diameters beyond 10^6. Lineage is cut
    per half-step so long runs don't blow the plan; superseded
    checkpoints are unpersisted as soon as their successor materializes,
    so peak cache is 3 label frames, not O(iterations). The frames that
    must outlive the call (edge list + final labels) register with
    ``scope`` when given, for deterministic release via
    :meth:`CacheScope.release`.

    If the budget exhausts with labels still changing the function
    raises :class:`ConvergenceError` rather than return silently split
    components.

    ``checkpoint_dir``: by default lineage cuts use ``localCheckpoint``
    (executor-memory blocks — fast, but an executor loss mid-run kills
    the job). Pass a (HDFS/DBFS/local) directory to use RELIABLE
    ``checkpoint`` instead: each cut is written to storage, so a long
    dedup job survives executor loss at the cost of per-iteration I/O.
    Checkpoint files are left for Spark's context cleaner / the caller
    to remove with the directory. NOTE: the checkpoint directory is a
    SparkContext-global setting — it is restored on exit, but two
    concurrent connected_components calls with different dirs in one
    session race on it; give concurrent jobs the same dir.
    """
    sc = edges.sparkSession.sparkContext
    prev_ckpt_dir = sc._jsc.sc().getCheckpointDir()
    prev_ckpt_dir = prev_ckpt_dir.get() if prev_ckpt_dir.isDefined() else None
    if checkpoint_dir is not None:
        if prev_ckpt_dir is None:
            # no public unset exists: once set, the context stays
            # pointed at this job's dir, so LATER unrelated
            # df.checkpoint() calls land their files here — deleting
            # this directory while the session lives would break them
            import warnings

            warnings.warn(
                "connected_components is setting the SparkContext-global "
                f"checkpoint dir to {checkpoint_dir!r}; no previous dir was "
                "set, so the context will stay pointed here after this call. "
                "Do not delete the directory while the session lives, or set "
                "one shared session checkpoint dir up front.",
                stacklevel=2,
            )
        sc.setCheckpointDir(checkpoint_dir)

    try:
        def _cut(df: DataFrame) -> DataFrame:
            if checkpoint_dir is not None:
                return df.checkpoint(eager=True)
            return df.localCheckpoint(eager=True)

        # Materialize the edge list ONCE — and BEFORE symmetrizing: the
        # union's two branches each embed the full upstream pair pipeline
        # (shingling / LSH banding / pairwise dot products), so cutting
        # after the union executes that pipeline twice (measured 2x on the
        # sf1 SemDeDup spot-run), and not cutting at all re-executes it per
        # iteration — O(iterations x pairs) work.
        cut = edges.select("id_a", "id_b").localCheckpoint(eager=True)
        sym = cut.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        ).unionByName(cut.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        sym = _cut(sym)
        _release_blocks(cut)
        if scope is not None:
            scope.add(sym)

        labels = _cut(
            sym.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("component", F.col("id"))
        )
        converged = False
        for _ in range(max_iterations):
            start = labels
            # HOP: pull the minimum label one edge inward
            neighbor_min = (
                sym.join(labels.hint("merge"), sym.dst == labels.id)
                .groupBy("src")
                .agg(F.min("component").alias("__nmin"))
            )
            hopped = _cut(
                labels.join(neighbor_min.hint("merge"), labels.id == neighbor_min.src, "left")
                .select(
                    "id",
                    F.least(F.col("component"), F.coalesce("__nmin", F.col("component"))).alias(
                        "component"
                    ),
                )
            )
            # SHORTCUT (pointer doubling): component values are always
            # vertex ids, so every label row can follow its component's own
            # label one more step — chains halve instead of shrinking by 1.
            parent = hopped.select(
                F.col("id").alias("__pid"), F.col("component").alias("__pcomp")
            )
            new_labels = _cut(
                hopped.join(parent.hint("merge"), hopped.component == parent.__pid, "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"), F.coalesce("__pcomp", F.col("component"))
                    ).alias("component"),
                )
            )
            changed = (
                new_labels.alias("n")
                .join(start.alias("o").hint("merge"), "id")
                .where(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            # the compare above was the last consumer of the iteration-start
            # checkpoint; hopped was consumed by the shortcut join
            _release_blocks(hopped)
            _release_blocks(start)
            labels = new_labels
            if changed == 0:
                converged = True
                break
        if not converged:
            _release_blocks(labels)
            if scope is None:
                _release_blocks(sym)  # no scope will ever free the edge frame
            raise ConvergenceError(
                f"connected_components did not converge in {max_iterations} "
                "iterations — labels were still moving, so the result would "
                "silently split components. With pointer doubling this needs a "
                f"component diameter beyond ~2^{max_iterations}; raise "
                "max_iterations (each iteration covers twice the distance) or "
                "inspect the edge list for unexpected structure."
            )
        if scope is not None:
            scope.add(labels)
        return labels
    finally:
        # the checkpoint dir is SparkContext-global: restore the
        # previous one so later unrelated checkpoint() calls do not
        # land in this job's directory (no public unset exists, so a
        # previously-unset dir stays pointed here — documented above)
        if checkpoint_dir is not None and prev_ckpt_dir is not None:
            sc.setCheckpointDir(prev_ckpt_dir)


def _exact_collapse(
    df: DataFrame, text_col: str, id_col: str, scope: CacheScope | None
) -> tuple[DataFrame, DataFrame]:
    """Collapse EXACT duplicates before any pair generation. Real
    corpora carry enormous byte-identical clusters (boilerplate pages
    occur millions of times); inside an LSH/band bucket such a cluster
    is a clique, so candidate pairs grow QUADRATICALLY in copy count —
    the 100x spot fixture (100 copies per doc) produced ~25M minhash
    candidates and OOMed the verify join, and simhash's block join
    OOMed the JVM outright. One md5 groupBy reduces every cluster to
    its min-id representative; near-dup runs on representatives only.
    Semantics are EXACTLY preserved: copies share a representative
    (identical text ⇒ Jaccard 1.0 / hamming 0), rep-level edges exist
    iff the corresponding doc-level edges do (identical texts), and
    min-label components over min-id reps produce the same labels as
    min-label components over all ids.

    Returns ``(doc_fp, reps)``: (id, __fp) for every doc, and the
    persisted representative frame (__fp, id, text)."""
    from pyspark import StorageLevel

    # NULL text must NOT fingerprint to NULL: md5(NULL) is NULL, which
    # would (a) group every null-text doc into one bogus "duplicate"
    # cluster and (b) fall out of the __fp equi-join entirely (NULL
    # never equals NULL), silently DROPPING those docs from the output.
    # A per-doc sentinel keeps each null-text doc its own singleton —
    # exactly how the uncollapsed pipeline treated them (no shingles,
    # no signature, no candidates).
    fp = F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("__null__"), F.col(id_col).cast("string")),
    )
    doc_fp = df.select(F.col(id_col).alias("id"), fp.alias("__fp"))
    reps = (
        df.select(fp.alias("__fp"), F.col(id_col), F.col(text_col))
        .groupBy("__fp")
        # all rows in a group share text (md5-equal), so first() is
        # deterministic in value; min(id) pins the label choice
        .agg(F.min(id_col).alias(id_col), F.first(text_col).alias(text_col))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if scope is not None:
        scope.add(reps)
    return doc_fp, reps


def _components_to_all_docs(
    doc_fp: DataFrame, reps: DataFrame, comps: DataFrame, id_col: str
) -> DataFrame:
    """Fan rep-level components back out to every document through the
    fingerprint: (id, component), singletons labeled by their rep id
    (== the min id of their exact-duplicate cluster)."""
    rep_map = reps.select("__fp", F.col(id_col).alias("__rep"))
    rep_comps = comps.select(F.col("id").alias("__rep"), "component")
    return (
        doc_fp.join(rep_map.hint("merge"), "__fp")
        .join(rep_comps.hint("merge"), "__rep", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("component", F.col("__rep")).alias("component"),
        )
    )


def _minhash_components(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    scope: CacheScope | None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    from pyspark import StorageLevel

    rows_per_band = num_hashes // bands
    doc_fp, reps = _exact_collapse(df, text_col, id_col, scope)
    # shingles feed BOTH the signature build and the exact-Jaccard verify
    # — persist once (memory, spill to disk) instead of recomputing the
    # explode+dedup lineage twice
    shingles = word_shingles(reps, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if scope is not None:
        scope.add(shingles)
    sigs = minhash_signatures(shingles, id_col, num_hashes)
    cands = minhash_candidates(sigs, id_col, bands, rows_per_band)
    dup_edges = jaccard_verify(cands, shingles, id_col, threshold)
    comps = connected_components(
        dup_edges.select("id_a", "id_b"), scope=scope, checkpoint_dir=checkpoint_dir
    )
    return _components_to_all_docs(doc_fp, reps, comps, id_col)


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: returns (id, component) for
    every document, where near-duplicates share a component (singletons
    keep their own id). Keep one doc per component to dedup.

    ``checkpoint_dir``: pass a reliable (HDFS/DBFS/local) directory to
    make the component iterations fault-tolerant — without it the
    label-propagation lineage cuts live in executor memory
    (localCheckpoint), so an executor loss kills a long dedup job (see
    :func:`connected_components`). The directory is a
    SparkContext-GLOBAL setting: two concurrent dedup jobs in one
    session with different dirs race on it — give every dedup/
    components call in a session the SAME dir, and never delete it
    while the session lives (later unrelated ``df.checkpoint()`` calls
    may have landed files there).

    NOTE: the returned plan is lazy and references a persisted shingle
    cache plus component checkpoints; they stay resident until session
    teardown or ``spark.catalog.clearCache()``. A pipeline LOOPING over
    corpora should use :func:`minhash_dedup_scoped` instead, which
    releases all of it deterministically on exit."""
    return _minhash_components(
        df, text_col, id_col, shingle_n, num_hashes, bands, threshold,
        scope=None, checkpoint_dir=checkpoint_dir,
    )


@contextmanager
def minhash_dedup_scoped(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    checkpoint_dir: str | None = None,
):
    """Scoped twin of :func:`minhash_dedup`: yields the (id, component)
    frame; on exit every block the pipeline cached (shingles, the edge
    checkpoint, the final label checkpoint) is blocking-unpersisted.
    Materialize (write / collect / convert) INSIDE the ``with`` — the
    checkpoints cut lineage, so the frame cannot recompute after
    release::

        with minhash_dedup_scoped(docs) as comps:
            comps.write.parquet(out)   # nothing left cached afterwards

    ``checkpoint_dir`` is the reliable-checkpoint option, identical to
    :func:`minhash_dedup`'s — long jobs should pass it from HERE, this
    being the documented production entry point. Same global-setting
    caveat: one shared dir per session, kept alive for the session.
    """
    scope = CacheScope()
    try:
        yield _minhash_components(
            df, text_col, id_col, shingle_n, num_hashes, bands, threshold,
            scope=scope, checkpoint_dir=checkpoint_dir,
        )
    finally:
        scope.release()


# ---------------------------------------------------------------- simhash
def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    hash_fn=None,
    n_bits: int = 64,
) -> DataFrame:
    """n_bits-wide SimHash per document, entirely in JVM expressions.

    Each word hashes once (default xxhash64); bit j of the signature is
    the sign of sum_j(±1) across words. The per-bit sums are n_bits
    aggregate expressions in a single groupBy — one shuffle on the doc
    id. ``hash_fn``/``n_bits`` exist so the oracle-portable 60-bit
    md5-prefix hash (text_analysis.md5_long) can replace xxhash64 for
    hash-checked twins (q50); production keeps the one-op JVM hash.
    """
    hash_fn = hash_fn or F.xxhash64
    # same narrow-input widening as word_shingles: the per-word explode
    # + 64 bit-aggregates are CPU-heavy and otherwise pinned to the
    # scan's split count (shuffle-bearing frames are never probed —
    # see _maybe_widen)
    df = _maybe_widen(df)
    # NULL text behaves like empty text (one '' word): explode over a
    # NULL split would silently DROP the document while blank docs stay
    # — the signature pass must be total over its input (NULL sweep)
    words = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
        ).alias("__w"),
    ).withColumn("__h", hash_fn(F.col("__w")))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(n_bits)
    ]
    sums = words.groupBy(id_col).agg(*bit_aggs)
    sig: Column = F.lit(0).cast("long")
    for j in range(n_bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"b{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_candidates(
    sigs: DataFrame, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with hamming distance <= max_hamming.

    Banding: split the 64-bit signature into (max_hamming + 1) blocks —
    any pair within distance d agrees exactly on >= 1 block (pigeonhole),
    so a block-value equi-join finds all candidates; bit_count(xor)
    verifies exactly.
    """
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    blocks = F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(b),
                # unsigned slice of the signature
                F.shiftrightunsigned(F.col("simhash"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1).cast("long")),
            )
            for b in range(n_blocks)
        ]
    )
    bucketed = sigs.select(F.col(id_col), F.col("simhash"), F.explode(blocks).alias("__blk"))
    a = bucketed.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("__sa"), "__blk"
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("__sb"), "__blk"
    )
    return (
        a.join(b.hint("merge"), "__blk")
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------- incremental index
def _committed_index_paths(spark, path: str) -> list[str]:
    """The index's COMMITTED pieces: top-level part files (gated on the
    top-level ``_SUCCESS`` that Spark's committer writes last) plus
    ``append_*`` / ``batch_*`` subdirectories each gated on its own
    ``_SUCCESS``. Task commits land part files one-by-one before the
    job-level marker, so a probe concurrent with an append that globbed
    the directory could see a TORN batch — gating on the marker means
    it sees none or all of it. ``batch_*`` dirs are the streaming
    maintainer's layout (streaming/neardup.py, whose listing reuses
    :func:`list_success_dirs`), so a batch probe can read a
    streaming-maintained index directly.

    Base part files WITHOUT the top-level marker raise rather than get
    silently excluded: that state is either a mid-write base (readers
    must not proceed) or a stripped marker (object-store lifecycle
    rules, ``marksuccessfuljobs=false`` clusters) — in both cases a
    probe that silently skipped the base corpus would report zero
    matches against it and wave duplicates through. The protocol
    requires _SUCCESS markers; disable marker suppression for index
    directories."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    tops: list[str] = []
    top_committed = False
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if status.isDirectory():
            continue
        if name == "_SUCCESS":
            top_committed = True
        elif name.endswith(".parquet"):
            tops.append(str(status.getPath()))
    if tops and not top_committed:
        raise IOError(
            f"minhash index at {path!r} has base part files but no top-level "
            "_SUCCESS marker — either a write is in flight or the marker was "
            "stripped; refusing to probe a possibly-partial base corpus"
        )
    subs = [p for _, p in list_success_dirs(spark, path, ("append_", "batch_"))]
    return tops + sorted(subs)


def list_success_dirs(
    spark, root: str, prefixes: tuple[str, ...]
) -> list[tuple[str, str]]:
    """(name, path) of ``root``'s immediate subdirectories matching any
    of ``prefixes`` whose parquet write COMMITTED (``_SUCCESS``
    present). The single home of the marker-gated listing rule — shared
    by the batch index reader above and the streaming maintainer
    (streaming/neardup.py), so the commit protocol cannot drift between
    the two layouts."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(root)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    out: list[tuple[str, str]] = []
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith(prefixes)):
            continue
        if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{root}/{name}/_SUCCESS")):
            out.append((name, f"{root}/{name}"))
    return sorted(out)


def read_minhash_index(spark: SparkSession, path: str) -> DataFrame:
    """Read a :func:`write_minhash_index` index, seeing only COMMITTED
    batches (see :func:`_committed_index_paths`). Raises if no committed
    piece exists — an empty scan would silently match nothing."""
    pieces = _committed_index_paths(spark, path)
    if not pieces:
        raise FileNotFoundError(
            f"no committed minhash index at {path!r} (no _SUCCESS-gated "
            "part files or append_*/batch_* subdirectories)"
        )
    return spark.read.parquet(*pieces)


def write_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    hash_fn=None,
    seed_fmt: str = "\x00{}",
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's MinHash signatures as a parquet index (X37).

    The 100 TB workflow this serves: a historical corpus is signed ONCE;
    each incoming batch (daily crawl, new source) is checked against the
    index WITHOUT rescanning historical text — the index holds one row
    of ``num_hashes`` longs per document, ~3 orders of magnitude smaller
    than the corpus. Run with ``mode="append"`` after a batch clears to
    fold its signatures in.

    Append commit protocol: each append writes its OWN
    ``append_<token>/`` subdirectory (mode=overwrite inside it), whose
    ``_SUCCESS`` marker Spark's committer writes only after every part
    file has landed. Readers (:func:`read_minhash_index`, the path arm
    of :func:`neardup_against_index`) include a subdirectory only when
    its marker exists — so a probe concurrent with an append sees none
    or ALL of that batch, never a torn prefix. (A plain parquet append
    into a flat directory commits part files one-by-one with no
    read-side gate — the failure mode this layout exists to close.)
    Parameters must match between build and probe; keep them with the
    index path in pipeline config."""
    sigs = minhash_signatures(
        word_shingles(df, text_col, id_col, shingle_n),
        id_col,
        num_hashes,
        hash_fn,
        seed_fmt,
    )
    if mode == "append":
        import uuid

        sigs.write.mode("overwrite").parquet(f"{path}/append_{uuid.uuid4().hex[:12]}")
    else:
        sigs.write.mode(mode).parquet(path)


def neardup_against_index(
    batch: DataFrame,
    index,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    est_threshold: float = 0.5,
    hash_fn=None,
    seed_fmt: str = "\x00{}",
    threshold: float | None = None,
) -> DataFrame:
    """Near-dup matches of a NEW batch against a persisted signature
    index: ``(batch_id, index_id, est_jaccard)`` for every pair whose
    signature agreement >= ``est_threshold``. ``index`` is the parquet
    path from :func:`write_minhash_index` (or a signature DataFrame).

    ``est_threshold`` cuts on the MinHash ESTIMATE of Jaccard (the
    fraction of agreeing minhashes), NOT the exact shingle Jaccard that
    :func:`minhash_dedup`'s ``threshold`` verifies — the estimator's
    variance is ~1/sqrt(num_hashes) (large at 16-32 hashes), so the
    same numeric value yields a different match set here than in the
    batch pipeline; the parameter is named differently on purpose. The
    index stores signatures only (historical text is never rescanned),
    so an exact-verify pass isn't possible from the index alone —
    follow up with a text-level verify on the (small) match set when
    exact semantics are required.

    Candidates come from an LSH band equi-join (batch side vs index
    side — never a cross product); k/num_hashes values are exact binary
    fractions, so the score is engine-portable.
    Self-matches (same id on both sides) are dropped, so re-checking a
    batch that was already appended is safe.

    ``threshold`` is a deprecated alias for ``est_threshold`` (the
    parameter's pre-rename keyword); it warns and forwards."""
    if threshold is not None:
        import warnings

        if est_threshold != 0.5:  # both cuts passed: refuse to guess
            raise ValueError(
                "pass est_threshold= only — threshold= is its deprecated alias"
            )
        warnings.warn(
            "neardup_against_index(threshold=) is deprecated; the cut is on "
            "the MinHash ESTIMATE of Jaccard — pass est_threshold= instead",
            DeprecationWarning,
            stacklevel=2,
        )
        est_threshold = threshold
    spark = batch.sparkSession
    rows_per_band = num_hashes // bands
    idx = read_minhash_index(spark, index) if isinstance(index, str) else index
    sigs_b = minhash_signatures(
        word_shingles(batch, text_col, id_col, shingle_n),
        id_col, num_hashes, hash_fn, seed_fmt,
    )
    band_arr = _minhash_band_array(bands, rows_per_band)

    # SLIM band frames for the bucket join — (id, band) only, so the
    # shuffle moves one band string per row, not bands x num_hashes
    # signature columns; the full signatures join back by id on the
    # (much smaller) deduped pair set.
    b_slim = sigs_b.select(F.col(id_col).alias("batch_id"), F.explode(band_arr).alias("__band"))
    c_slim = idx.select(F.col(id_col).alias("index_id"), F.explode(band_arr).alias("__band"))
    # both sides are corpus-derived: pin the shuffle join (see
    # jaccard_verify for the broadcast-misestimate failure mode)
    pairs = (
        b_slim.join(c_slim.hint("merge"), "__band")
        .where(F.col("batch_id") != F.col("index_id"))
        .select("batch_id", "index_id")
        .dropDuplicates(["batch_id", "index_id"])
    )
    sb = sigs_b.select(
        F.col(id_col).alias("batch_id"),
        *[F.col(f"h{i}").alias(f"batch_h{i}") for i in range(num_hashes)],
    )
    sc = idx.select(
        F.col(id_col).alias("index_id"),
        *[F.col(f"h{i}").alias(f"index_h{i}") for i in range(num_hashes)],
    )
    agree = sum(
        (F.col(f"batch_h{i}") == F.col(f"index_h{i}")).cast("int")
        for i in range(num_hashes)
    )
    return (
        pairs.join(sb.hint("merge"), "batch_id")
        .join(sc.hint("merge"), "index_id")
        .withColumn("est_jaccard", agree / F.lit(float(num_hashes)))
        .where(F.col("est_jaccard") >= est_threshold)
        .select(
            F.col("batch_id"), F.col("index_id"),
            F.round("est_jaccard", 4).alias("est_jaccard"),
        )
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn=None,
    n_bits: int = 64,
    scope: CacheScope | None = None,
) -> DataFrame:
    """SimHash near-dup components: (id, component) for every document,
    near-duplicates (hamming <= ``max_hamming``) sharing a component and
    singletons keeping their own id — the simhash twin of
    :func:`minhash_dedup`.

    This, not raw :func:`simhash_candidates`, is the pipeline entry
    point: candidate emission is inherently quadratic inside
    exact-duplicate cliques (the 100x spot fixture OOMed the JVM on the
    block join), so exact duplicates collapse to min-id representatives
    first (see :func:`_exact_collapse` for the label-equivalence
    argument — identical texts have hamming 0, so copies always land in
    their representative's component). Pass ``scope`` (or use
    :func:`simhash_dedup_scoped`) to release the cached blocks
    deterministically."""
    doc_fp, reps = _exact_collapse(df, text_col, id_col, scope)
    sigs = simhash(reps, text_col, id_col, hash_fn=hash_fn, n_bits=n_bits)
    edges = simhash_candidates(sigs, id_col, max_hamming).select("id_a", "id_b")
    comps = connected_components(edges, scope=scope)
    return _components_to_all_docs(doc_fp, reps, comps, id_col)


@contextmanager
def simhash_dedup_scoped(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn=None,
    n_bits: int = 64,
):
    """Scoped twin of :func:`simhash_dedup` (same contract as
    :func:`minhash_dedup_scoped`): materialize inside the ``with``;
    every cached/checkpointed block releases on exit."""
    scope = CacheScope()
    try:
        yield simhash_dedup(
            df, text_col, id_col, max_hamming, hash_fn, n_bits, scope=scope
        )
    finally:
        scope.release()


# ---------------------------------------------------------------- n-gram jaccard (exact)
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over *all* pairs that share at least one
    shingle (inverted-index join — still no cross product; rare-shingle
    skew is the scale risk, mitigate by dropping ubiquitous shingles
    upstream for real corpora)."""
    shingles = word_shingles(df, text_col, id_col, n)
    sa = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    sb = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    pairs = (
        sa.join(sb.hint("merge"), "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    return (
        pairs.join(
            sizes.withColumnsRenamed({id_col: "id_a", "__sz": "__sza"}).hint("merge"),
            "id_a",
        )
        .join(
            sizes.withColumnsRenamed({id_col: "id_b", "__sz": "__szb"}).hint("merge"),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("__inter") / (F.col("__sza") + F.col("__szb") - F.col("__inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


# ---------------------------------------------------------------- embedding near-dup
def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-norm random hyperplanes (driver-side, tiny)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def _band_signatures(vec: Column, planes: list[list[float]], bands: int, rows_per_band: int) -> Column:
    """array<string> of band signatures: each band concatenates the sign
    bits of ``rows_per_band`` hyperplane projections."""
    bits = [
        F.when(dot(vec, F.array(*[F.lit(p) for p in plane])) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for plane in planes
    ]
    sigs = []
    for b in range(bands):
        band_bits = bits[b * rows_per_band : (b + 1) * rows_per_band]
        sigs.append(F.concat(F.lit(f"{b}:"), *band_bits))
    return F.array(*sigs)


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    dim: int | None = None,
    use_lsh: bool = True,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = 42,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Pairs with cosine similarity >= threshold.

    The default is the sign-LSH path — bucket by random-hyperplane band
    signatures, then score only within-bucket pairs (equi-join on
    signature): the scale path for millions of vectors. Brute force
    (explicit use_lsh=False) is a self cross join, O(n²) — it exists as
    the exact oracle baseline (q36) and for eval-scale data only; never
    call it on a corpus.

    ``dim`` (vector length, needed to draw the hyperplanes driver-side)
    is inferred from one row when omitted — a bounded 1-row collect.

    Tuning bands/rows_per_band (sign-LSH collision math): a pair at
    cosine c agrees with one hyperplane with p = 1 - arccos(c)/pi, with
    one band with p^rows, and becomes a candidate with
    1 - (1 - p^rows)^bands. The defaults (16 bands x 4 rows) keep
    recall >= 1 - 4e-6 for pairs at the 0.9-0.95 thresholds while
    pruning enough random pairs to matter — measured on 2400 vectors
    with 400 planted 0.9+-cosine pairs: 16x2 75.7 s / recall 1.0
    (admits ~99% of random pairs — effectively all-pairs), 16x4 14.5 s
    / recall 1.0, 16x8 9.8 s / recall 1.0 (~6% random admission),
    8x8 5.8 s / recall 0.995. For web-scale corpora raise rows_per_band
    further (16x16 ≈ 95% recall at 0.95 with ~2e-4 random admission) —
    the extra projections are linear map-side work, the candidate
    collapse is multiplicative.
    """
    # normalize once per row: per-pair scoring is then a single dot product
    v = df.select(F.col(id_col), l2_normalize(_as_double(vec_col)).alias("__v"))
    if use_lsh:
        if dim is None:
            first = df.select(F.size(F.col(vec_col)).alias("__d")).first()
            if first is None:
                raise ValueError("cannot infer dim from an empty DataFrame")
            dim = first["__d"]
        planes = random_hyperplanes(dim, bands * rows_per_band, seed)
        from pyspark import StorageLevel

        # Both sides of the self-join branch from this frame; without the
        # persist each branch re-computes every hyperplane dot product
        # (bands*rows_per_band HOF dots per row — the expensive part).
        # Same idiom as minhash_dedup's shingle persist; pass ``scope``
        # (CacheScope) to release it deterministically after
        # materializing, as minhash_dedup_scoped does.
        bucketed = v.select(
            F.col(id_col), "__v",
            F.explode(_band_signatures(F.col("__v"), planes, bands, rows_per_band)).alias(
                "__sig"
            ),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        if scope is not None:
            scope.add(bucketed)
        a = bucketed.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"), "__sig")
        b = bucketed.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"), "__sig")
        pairs = (
            a.join(b.hint("merge"), "__sig")
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        a = v.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"))
        b = v.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"))
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))

    return (
        pairs.withColumn("score", F.round(dot(F.col("__va"), F.col("__vb")), 4))
        .where(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


# --------------------------------------------------- line-level boilerplate
def boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Lines that appear in >= ``min_docs`` distinct documents — CCNet /
    Gopher-style boilerplate detection (nav bars, cookie banners,
    signatures repeat across a crawl; real prose does not).

    One explode + count-distinct per line; at 100 TB the (line ->
    doc-count) aggregate is the only shuffle, keyed by the line itself
    (hash-partitioned, map-side partial). Returns (line, n_docs).
    """
    lines = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), sep)).alias("line")
    ).where(F.length(F.trim(F.col("line"))) > 0)
    return (
        lines.dropDuplicates([id_col, "line"])
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Remove corpus-repeated lines from every document, preserving the
    order of the surviving lines; docs whose every line is boilerplate
    survive with empty text.

    Scale shape: posexplode -> LEFT ANTI against the boilerplate set
    (a broadcast-able aggregate by construction: boilerplate is the
    rare tail) -> regroup by doc with position-ordered reassembly
    (sort_array over (pos, line) structs, then concat). Two shuffles:
    the line-count agg and the per-doc regroup.
    """
    bp = boilerplate_lines(df, text_col, id_col, min_docs=min_docs, sep=sep)
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    kept = lines.join(F.broadcast(bp.select("line")), "line", "left_anti")
    reassembled = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("clean_text")
        )
    )
    return df.select(id_col).join(reassembled, id_col, "left").select(
        id_col, F.coalesce("clean_text", F.lit("")).alias("clean_text")
    )


# ------------------------------------------------------- semantic dedup
def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    use_lsh: bool = True,
    scope: CacheScope | None = None,
    checkpoint_dir: str | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): rows
    whose embeddings are transitively connected by cosine >= threshold
    form one group; the min-id row is the group's keeper.

    Composition of the two hash-checked primitives: near-dup pair
    generation (:func:`embedding_neardup_pairs` — sign-LSH banding by
    default, never all-pairs) feeding :func:`connected_components`
    (min-label propagation). Rows with no near-neighbor are their own
    singleton group — the LEFT join + coalesce keeps them without ever
    materializing singleton edges.

    Returns (id, group_id, is_keeper); downstream keeps
    ``is_keeper`` rows for the deduplicated corpus.

    Like :func:`minhash_dedup`, the lazy result references a persisted
    LSH bucket frame and component checkpoints. Pass ``scope`` (a
    :class:`CacheScope`) or use :func:`semantic_dedup_scoped` when
    looping over corpora, so the blocks release deterministically.

    Exact-duplicate collapse (the quadratic-clique guard the text
    families got in round 4, applied to vectors): byte-identical
    embeddings — re-encoded copies, identical texts through a
    deterministic embedder — form cliques in every sign-LSH bucket, so
    they collapse to min-id representatives before pair generation.
    Identical non-zero vectors have cosine exactly 1.0 >= any
    threshold, so labels are unchanged by the same argument as
    :func:`_exact_collapse`; ZERO vectors keep per-id sentinel
    fingerprints because cosine(0,0) is undefined (never an edge), so
    they must stay singletons exactly as the uncollapsed pipeline
    leaves them.
    """
    from pyspark import StorageLevel

    sq_norm = F.aggregate(
        F.col(vec_col).cast("array<double>"),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    fp = F.when(
        F.col(vec_col).isNotNull() & (sq_norm > 0),
        F.md5(F.to_json(F.struct(F.col(vec_col)))),
    ).otherwise(F.concat(F.lit("__zero__"), F.col(id_col).cast("string")))
    vec_fp = df.select(F.col(id_col).alias("__vid"), fp.alias("__fp"))
    reps = (
        df.select(fp.alias("__fp"), F.col(id_col), F.col(vec_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.first(vec_col).alias(vec_col))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if scope is not None:
        scope.add(reps)
    pairs = embedding_neardup_pairs(
        reps, vec_col, id_col, threshold=threshold, use_lsh=use_lsh, scope=scope,
        **lsh_kwargs,
    )
    comp = connected_components(
        pairs.select("id_a", "id_b"), scope=scope, checkpoint_dir=checkpoint_dir
    )
    rep_map = reps.select("__fp", F.col(id_col).alias("__rep"))
    rep_comp = comp.select(F.col("id").alias("__rep"), "component")
    gid = F.coalesce(F.col("component"), F.col("__rep"))
    return (
        vec_fp.join(rep_map.hint("merge"), "__fp")
        .join(rep_comp.hint("merge"), "__rep", "left")
        .select(
            F.col("__vid").alias(id_col),
            gid.alias("group_id"),
            (F.col("__vid") == gid).alias("is_keeper"),
        )
    )


@contextmanager
def semantic_dedup_scoped(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    use_lsh: bool = True,
    checkpoint_dir: str | None = None,
    **lsh_kwargs,
):
    """Scoped twin of :func:`semantic_dedup` (same contract as
    :func:`minhash_dedup_scoped`, including its reliable
    ``checkpoint_dir`` option): yields the (id, group_id, is_keeper)
    frame; on exit the LSH bucket persist and every component checkpoint
    are blocking-unpersisted. Materialize INSIDE the ``with`` block —
    checkpoints cut lineage, so the frame cannot recompute after
    release."""
    scope = CacheScope()
    try:
        yield semantic_dedup(
            df, vec_col, id_col, threshold=threshold, use_lsh=use_lsh, scope=scope,
            checkpoint_dir=checkpoint_dir, **lsh_kwargs,
        )
    finally:
        scope.release()


# --------------------------------------------------- duplicated spans
def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    flag_threshold: float = 0.05,
    repartition_to: int | str | None = "auto",
) -> DataFrame:
    """Cross-document duplicated-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for each
    document, the fraction of its word-``n``-gram spans (counted by
    position, i.e. with multiplicity) that also occur in at least one
    OTHER document. Exact-substring-grain dedup — the sibling of
    whole-doc MinHash (X2) and benchmark decontamination (X6): MinHash
    misses a copied paragraph inside an otherwise-unique page; this
    catches it.

    Returns (id, n_spans, n_dup_spans, dup_span_frac, flagged) where
    flagged = dup_span_frac >= ``flag_threshold``.

    Scale design (the suffix-array of the paper re-expressed as
    shingle-keyed shuffles — Spark's native strength):

    * spans explode map-side from slice+transform (no UDF, codegen);
      the per-(doc, shingle) count is a partial-agg groupBy, so the
      first shuffle moves one row per distinct (doc, shingle), not one
      per occurrence.
    * the cross-doc test is ``ndocs = count(*)`` as a WINDOW over that
      doc×shingle grain (no countDistinct — the grain already is
      distinct per doc, and no join-back — see the inline note). A
      window partition is NOT AQE-splittable, so a hyper-common
      shingle (boilerplate n-gram in most docs) concentrates its rows
      in one task. That risk is accepted deliberately: the partition
      is bounded by the DOC count (not occurrences), each row is a
      narrow (id, shingle, c) triple, and WindowExec buffers its
      partition in a spillable row array — a hot shingle is a
      straggler bounded by #docs rows of ~few dozen bytes, never an
      OOM, while the alternative join-back form re-derives the whole
      100 TB shingle pipeline for its probe side (measured, r14).
    * nothing broadcasts an unbounded set; nothing forms a pair join.
      Total cost is O(|span occurrences|) map-side + shuffles keyed on
      (doc, shingle), shingle, and doc — each with map-side partials.

    Tokenization is :func:`word_shingles`' by construction (both wrap
    :func:`_exploded_spans`): split on ``\\s+``, docs shorter than ``n``
    words contribute their full text as one span. Empty/whitespace-only
    documents are EXCLUDED from the result — their degenerate
    empty-string span would otherwise mark every blank doc in a crawl
    as a 100% duplicate of every other blank doc.
    """
    from pyspark.sql.window import Window

    nonblank = df.where(F.length(F.trim(F.col(text_col))) > 0)
    sc = (
        _exploded_spans(nonblank, text_col, id_col, n, repartition_to)
        .groupBy(id_col, "shingle")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # ndocs per shingle as a WINDOW over the (doc, shingle) grain, not a
    # groupBy + join-back: the join form re-derives the whole shingle
    # pipeline (scan -> split -> slice/concat transform -> explode ->
    # two exchanges) for the ndocs branch, because Catalyst prunes the
    # two subtrees differently (the ndocs side drops `c`, becoming a
    # distinct-aggregate) so neither static CSE nor AQE stage reuse can
    # canonicalize them equal — measured as TWO full corpus shingle
    # passes (r14: plan had 2 FileScan+Generate chains; noop-sink median
    # 23.1 s -> 15.3 s at 100x on the window form, results bit-identical,
    # plans/r14/q94_dup_spans_{before,after}.txt). The
    # window runs over the same hashpartitioning(shingle) exchange the
    # join needed anyway; per-shingle row count stays bounded by the doc
    # count, exactly the bound the groupBy had.
    ndocs = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    dup_c = F.when(ndocs >= 2, F.col("c")).otherwise(F.lit(0))
    per_doc = (
        sc.select(F.col(id_col), F.col("c"), dup_c.alias("__dup_c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_spans"),
            F.sum("__dup_c").alias("n_dup_spans"),
        )
    )
    frac = F.col("n_dup_spans") / F.col("n_spans")
    return per_doc.select(
        F.col(id_col),
        F.col("n_spans"),
        F.col("n_dup_spans"),
        F.round(frac, 4).alias("dup_span_frac"),
        (frac >= F.lit(flag_threshold)).alias("flagged"),
    )


# ------------------------------------------- corpus segment-level dedup (X39)
def dedup_segments(
    segs: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "seg_no",
    seg_col: str = "seg",
) -> DataFrame:
    """First-occurrence segment dedup across the whole corpus (the
    CCNet / "deduplicate repeated lines" pass at line/sentence/segment
    granularity): every segment whose normalized form (lower+trim) has
    appeared earlier — ordered by (id, pos) — is marked ``keep=false``;
    the globally FIRST copy and all blank segments keep. Complements
    strip_boilerplate (which drops EVERY copy of corpus-frequent lines;
    this keeps exactly one).

    Scale shape: the winner per segment hash comes from
    groupBy(hash).min(struct(id, pos)) — a map-side-combining aggregate
    — then a join back on the hash. Deliberately NOT a row_number()
    window over the hash: a hot boilerplate segment at 100 TB ("click
    here to subscribe" x 10^9) would put a billion rows in ONE window
    partition (single-task straggler), while min(struct) reduces the
    same partition map-side to one row per task. Both the aggregate and
    the join key on the md5 of the normalized segment; the join pins
    hint("merge") because both sides are corpus-scale and Catalyst's
    post-aggregate size estimate is unreliable (BASELINE.md §5e).

    Returns the input columns plus ``keep``. Ref parity: the reference
    dedups at whole-document granularity only (cleaning.py); this is
    extension surface X39 for sub-document training-data hygiene.
    """
    norm = F.lower(F.trim(F.col(seg_col)))
    keyed = segs.withColumn(
        "__h", F.when(F.length(norm) > 0, F.md5(norm))
    )
    winners = (
        keyed.where(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.min(F.struct(F.col(id_col), F.col(pos_col))).alias("__w"))
    )
    out = keyed.join(winners.hint("merge"), "__h", "left")
    keep = F.col("__h").isNull() | (
        F.struct(F.col(id_col), F.col(pos_col)) == F.col("__w")
    )
    return out.withColumn("keep", keep).drop("__h", "__w")


def dedup_segments_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_seg: int = 8,
) -> DataFrame:
    """End-to-end sub-document dedup over prose: chunk each doc into
    fixed word segments (map-side, text_analysis.segment_words), drop
    all-but-first copies of every corpus-repeated segment
    (dedup_segments), and reassemble the survivors in original order.

    Returns (id, n_segs, n_kept, dedup_text) — ``dedup_text`` is NULL
    when every segment of a doc was a repeat (collect_list skips the
    NULL structs the keep filter produces, and the no-survivor case
    must stay distinguishable from a legitimately empty doc).
    Reassembly is one groupBy(id) with position-ordered array_sort —
    the only per-doc shuffle in the pipeline.
    """
    from kfai_pipeline_spark.operators.text_analysis import segment_words

    flagged = dedup_segments(
        segment_words(df, id_col, text_col, words_per_seg),
        id_col,
        "seg_no",
        "seg",
    )
    kept_struct = F.when(
        F.col("keep"), F.struct(F.col("seg_no"), F.col("seg"))
    )
    n_kept = F.sum(F.col("keep").cast("long")).alias("n_kept")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            n_kept,
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("__joined"),
        )
        .select(
            id_col,
            "n_segs",
            "n_kept",
            F.when(F.col("n_kept") > 0, F.col("__joined")).alias("dedup_text"),
        )
    )
