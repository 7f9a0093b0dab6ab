"""Vector similarity search (X3 / Q27).

Spark has no native ANN; the engine provides:

* ``cosine_topk``      — exact brute-force top-k, the correctness baseline.
  Dot products run JVM-side via higher-order array functions
  (``zip_with`` + ``aggregate``) in DOUBLE — no Python boundary.
* ``cosine_topk_lsh``  — random-hyperplane (sign) LSH bucketing: candidates
  share >= ``min_band_matches`` bands, then exact re-rank. This is the
  100 TB path: the cross product never materializes; candidate
  generation is a bucket equi-join that shuffles on band signature.
* ``ivf_topk``         — IVF (inverted-file) routing: spherical-k-means
  centroids (deterministic mini-Lloyd, driver holds only k*dim floats),
  corpus partitioned by nearest-centroid cluster id, queries probe the
  ``nprobe`` nearest clusters and re-rank exactly inside them. The
  scan cost per query drops from |corpus| to ~|corpus|*nprobe/k; with
  the index written out partitioned by ``cluster_id``, probing prunes
  at the parquet-partition level.

Quantized probe family — one kernel, three persisted index kinds.
``sq8_topk``, ``pq_topk`` and ``ivfpq_topk`` are one call each into
``_probe_codes``: collect the query block once (NULL / zero-norm rows
and an empty-built index give the contract schema with no rows), scan
the codes table (``_codes_df``: build + appends + streamed epochs) with
``mapInPandas`` through ``_PartitionTopK``, keep the global top
``k*refine`` per query, then ``_exact_rerank`` against the
full-precision vectors when given (``quantized_topk``, the expression
arm, ends in the same re-rank). A kind is a ``_Codec`` of four parts:

* artifact load — ``_sq8_load`` (per-dim stats), ``_pq_load``
  (codebooks), ``_ivfpq_load`` (coarse book, codebooks, OPQ rotation);
* query transform — ``_sq8_prepare`` (linear-form weights),
  ``_pq_prepare`` / ``_ivfpq_prepare`` (unit queries -> ADC lookup
  tables; ivfpq also routes to its ``nprobe`` clusters);
* partition prune — ``_ivfpq_prune`` (``cluster_id`` partition filter;
  the flat kinds scan everything);
* per-batch score matrix — ``_sq8_scores``, ``_pq_scores``,
  ``_ivfpq_scores`` (batch x query; non-finite = not a candidate).

Serving code picks a kind through ``_serving_kind`` (probe + append);
``build_ann_index`` is the build-side twin.

Live pgvector stays external per the scope decision, but the serving
path itself is in-engine: ``plans/rag.py retrieve_tiered`` /
``retrieve_tiered_batch`` route through the persisted SQ8 / IVFPQ
indexes here (ref query_agent.py:252-257 does k=120 retrieval per
query — here that is ``k`` per query row). Which tier to serve from —
by corpus size, predicate selectivity, and index freshness, with the
measured curves — is the README's "Serving-tier decision table".
"""

from __future__ import annotations

import math
import random
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product over array<double> columns.

    Measured note (sf1, 2M pairs, dim=64): this HOF form runs ~3x
    FASTER than an unrolled sum of 64 element_at products (the long
    expression tree defeats codegen) — don't "optimize" it that way.
    For large query batches use :func:`cosine_topk_blas` instead.
    """
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb))


def l2_normalize(a: Column) -> Column:
    """Unit-normalize; NULL for zero-norm vectors so downstream dot
    products propagate NULL exactly like ``cosine`` does.

    Normalizing each side ONCE before a pairwise join turns per-pair
    cosine (3 higher-order-function passes) into a single dot product —
    the difference between O(3·d·|pairs|) and O(d·|sides| + d·|pairs|)
    interpreted-expression evals at 100 TB.

    zip_with against an array_repeat of the norm, NOT ``transform(a,
    x -> x / n)``: a higher-order lambda re-evaluates captured subtrees
    per element, so the transform form recomputes the O(d) norm d times
    — O(d^2) per row. HOF *arguments* evaluate once."""
    n = l2_norm(a)
    return F.when(
        n > 0, F.zip_with(a, F.array_repeat(n, F.size(a)), lambda x, nn: x / nn)
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int | None = 4,
) -> DataFrame:
    """Exact top-k neighbors per query row.

    ``queries`` is expected to be small relative to ``vectors`` and is
    broadcast; the corpus side streams through one codegen stage
    (score + per-query window top-k) — no corpus shuffle until the
    final k*|queries| rows.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"),
            l2_normalize(_as_double(query_vec_col)).alias("__qv"),
        )
    )
    normed = vectors.select(
        F.col(id_col), l2_normalize(_as_double(vec_col)).alias("__v")
    )
    score = dot(F.col("__v"), F.col("__qv"))
    if round_to is not None:
        score = F.round(score, round_to)
    scored = normed.crossJoin(q).select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        score.alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def mine_hard_negatives(
    vectors: DataFrame,
    anchors: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    anchor_vec_col: str = "embedding",
    anchor_id_col: str = "anchor_id",
    anchor_label_col: str = "label",
    round_to: int | None = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training (X47):
    for each anchor, the ``k`` most-similar corpus vectors with a
    DIFFERENT label — the examples a contrastive loss learns most from
    (similar in embedding space, known to be semantically distinct).

    Returns (anchor_id, id, score), score = cosine rounded to
    ``round_to`` (ranking happens on the rounded value with an id
    tie-break, the cross-engine-stable convention of
    :func:`cosine_topk`).

    Scale shape — identical to :func:`cosine_topk`: the anchor set
    broadcasts (small by contract: you mine negatives for a training
    batch, not the whole corpus), the corpus streams through ONE
    codegen stage (normalize → dot → label-mismatch filter → per-anchor
    window top-k), and only k x |anchors| rows survive to the final
    exchange. The label filter runs MAP-SIDE before the window, so
    same-label rows (including the anchor itself) never enter the
    ranking. Degenerate-vector contract: NULL/zero-norm vectors have no
    direction and are excluded from both sides; NULL-label rows are
    never negatives (an unknown label could be the same class —
    three-valued logic drops them in SQL too).
    """
    a = F.broadcast(
        anchors.select(
            F.col(anchor_id_col).alias("__aid"),
            l2_normalize(_as_double(anchor_vec_col)).alias("__av"),
            F.col(anchor_label_col).alias("__albl"),
        ).where(F.col("__av").isNotNull() & F.col("__albl").isNotNull())
    )
    normed = vectors.select(
        F.col(id_col),
        l2_normalize(_as_double(vec_col)).alias("__v"),
        F.col(label_col).alias("__lbl"),
    ).where(F.col("__v").isNotNull() & F.col("__lbl").isNotNull())
    score = dot(F.col("__v"), F.col("__av"))
    if round_to is not None:
        score = F.round(score, round_to)
    scored = (
        normed.crossJoin(a)
        .where(F.col("__lbl") != F.col("__albl"))
        .select(
            F.col("__aid").alias(anchor_id_col),
            F.col(id_col),
            score.alias("score"),
        )
    )
    w = Window.partitionBy(anchor_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def cosine_radius(
    vectors: DataFrame,
    queries: DataFrame,
    tau: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int | None = 4,
) -> DataFrame:
    """Radius (threshold) search: every corpus vector with cosine
    similarity >= ``tau`` to each query — top-k's sibling for "find all
    near-duplicates / all relevant docs", where the result size is
    data-dependent rather than fixed.

    Same scale shape as :func:`cosine_topk`'s scan stage, minus the
    window: queries broadcast, corpus streams through one codegen stage
    (normalize → dot → filter), and the threshold filter runs
    map-side — rows below ``tau`` never leave the scan stage, so there
    is NO shuffle at all (top-k needs one for its per-query window).
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"),
            l2_normalize(_as_double(query_vec_col)).alias("__qv"),
        )
    )
    normed = vectors.select(
        F.col(id_col), l2_normalize(_as_double(vec_col)).alias("__v")
    )
    score = dot(F.col("__v"), F.col("__qv"))
    if round_to is not None:
        score = F.round(score, round_to)
    return (
        normed.crossJoin(q)
        .select(
            F.col("__qid").alias(query_id_col),
            F.col(id_col),
            score.alias("score"),
        )
        .where(F.col("score") >= tau)
    )


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


def _band_rows(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes: list[list[float]],
    bands: int,
    rows_per_band: int,
    out_id: str,
    probe_flips: int = 0,
    scope=None,
) -> DataFrame:
    """Exploded (id, band signature) rows via one broadcast-numpy matmul
    per Arrow batch — the plan holds ZERO plane literals.

    ``probe_flips`` (query side only): multi-probe LSH (Lv et al. 2007,
    "Multi-Probe LSH") — besides each band's base signature, emit
    variants with the ``probe_flips`` LOWEST-|margin| projection bits
    flipped one at a time. A vector near a hyperplane lands on either
    side with ~equal probability, so probing the adjacent buckets of
    exactly those borderline bits recovers most of the recall that one
    more band would buy, at (1 + probe_flips)x PROBE rows instead of
    another full corpus band.

    The expression arm (:func:`_band_signatures`) embeds every plane as
    an ``F.lit`` array and evaluates n_planes interpreted dot folds per
    row: at LSH-topk scale (192 planes x 64 dims x 10M rows) that is
    ~12k multiply-adds per row in interpreted HOFs — the 10M-vector
    sweep measured it at ~10 minutes per corpus pass. Here each batch
    computes ``sign(V @ P.T)`` in one BLAS call and packs each band's
    bits into a long (``band * 2^rows_per_band + bits``), so the join
    key is a fixed-width integer instead of a string. Signatures are
    self-consistent across corpus/query sides (same kernel)."""
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    if rows_per_band > 56:
        raise ValueError("rows_per_band > 56 overflows the packed long signature")
    bc = df.sparkSession.sparkContext.broadcast(
        np.array(planes, dtype=np.float64)
    )
    if scope is not None:
        scope.add_broadcast(bc)
    id_type = df.schema[id_col].dataType
    schema = StructType([StructField(out_id, id_type), StructField("__sig", LongType())])
    weights_shape = (bands, rows_per_band)

    def kernel(batches):
        import pandas as pd

        P = bc.value
        weights = (1 << np.arange(weights_shape[1] - 1, -1, -1, dtype=np.int64))
        band_offset = (
            np.arange(weights_shape[0], dtype=np.int64) << weights_shape[1]
        )
        for pdf in batches:
            if not len(pdf):
                continue
            mask = pdf[vec_col].notna().to_numpy()
            sub = pdf[mask]
            if not len(sub):
                continue
            V = np.array(sub[vec_col].tolist(), dtype=np.float64)
            proj = V @ P.T  # b x n_planes
            bits = proj >= 0
            packed = (
                bits.reshape(len(sub), *weights_shape).astype(np.int64) * weights
            ).sum(axis=2) + band_offset  # b x bands
            ids = sub[id_col].to_numpy()
            sigs = [packed]
            if probe_flips > 0:
                # rank each band's projections by |margin|; flip the
                # closest-to-the-hyperplane bits one at a time
                margins = np.abs(proj).reshape(len(sub), *weights_shape)
                order = np.argsort(margins, axis=2, kind="stable")
                for j in range(min(probe_flips, weights_shape[1])):
                    pos = order[:, :, j]  # projection index within band
                    flip = np.int64(1) << (weights_shape[1] - 1 - pos)
                    sigs.append(packed ^ flip)
            all_sigs = np.stack(sigs, axis=1)  # b x variants x bands
            yield pd.DataFrame(
                {
                    out_id: np.repeat(ids, all_sigs.shape[1] * weights_shape[0]),
                    "__sig": all_sigs.reshape(len(sub), -1).ravel(),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(kernel, schema=schema)


def cosine_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    bands: int = 8,
    rows_per_band: int = 4,
    seed: int = 42,
    round_to: int | None = 4,
    multiprobe: int = 0,
    scope=None,
) -> DataFrame:
    """Approximate top-k: sign-LSH banding for candidates, exact re-rank.

    Recall/cost trades via (bands, rows_per_band): more bands -> higher
    recall, more candidates. ``multiprobe`` adds query-side 1-bit
    perturbation probes of the lowest-|margin| bits (see
    :func:`_band_rows`) — recall per extra candidate beats adding
    bands, since only the tiny broadcast side grows. Candidate
    generation is a map-side broadcast join on (band signature) —
    never a cross join, and the corpus bytes that move are band-frame
    SLIM.

    Scale shape (rewritten after the 10M-vector sweep): the corpus band
    frame carries (id, signature) ONLY. An earlier revision exploded
    the 64-dim normalized vector into every band row — corpus bytes x
    bands (90 GB at 10M x 16 bands) — and left the signature join
    unpinned, so Catalyst's fabricated post-projection estimate planned
    a sort-merge join that SORTED those 90 GB (filled the disk with
    spill before any result). Now: queries' band frame broadcasts (tiny
    by the small-query contract, like :func:`cosine_topk`), candidates
    dedup to (query, id) pairs, and the full vectors join back by id —
    corpus-side pinned ``hint("merge")`` (the fabricated-estimate rule:
    a corpus-derived frame must never ride the auto-broadcast
    threshold), query side broadcast.

    ``scope`` (a :class:`~kfai_pipeline_spark.operators.dedup.CacheScope`):
    each call creates TWO SparkContext broadcasts (the hyperplane matrix,
    once per side); the returned frame is lazy so they can't be destroyed
    here. A loop running many LSH passes in one session should pass a
    scope and ``release()`` between iterations, or the executor-resident
    broadcast blocks accrete one pair per call. Same option on
    assign_clusters / ivf_probe_topk / pq_topk / ivfpq_topk.
    """
    planes = random_hyperplanes(dim, bands * rows_per_band, seed)

    # Sign-LSH band signatures are scale-invariant, so they're computed
    # on the raw vectors (numpy kernel — see _band_rows for why not the
    # expression arm); scoring uses unit-normalized copies.
    v_slim = _band_rows(
        vectors, vec_col, id_col, planes, bands, rows_per_band, id_col,
        scope=scope,
    )
    q_slim = _band_rows(
        queries, query_vec_col, query_id_col, planes, bands, rows_per_band, "__qid",
        probe_flips=multiprobe, scope=scope,
    )
    cands = (
        v_slim.join(F.broadcast(q_slim), "__sig")
        .select("__qid", id_col)
        .dropDuplicates(["__qid", id_col])
    )
    normed = vectors.select(
        F.col(id_col), l2_normalize(_as_double(vec_col)).alias("__v")
    )
    qn = queries.select(
        F.col(query_id_col).alias("__qid"),
        l2_normalize(_as_double(query_vec_col)).alias("__qv"),
    )
    score = dot(F.col("__v"), F.col("__qv"))
    if round_to is not None:
        score = F.round(score, round_to)
    scored = (
        cands.join(normed.hint("merge"), id_col)
        .join(F.broadcast(qn), "__qid")
        .select(F.col("__qid").alias(query_id_col), F.col(id_col), score.alias("score"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN
# --------------------------------------------------------------------------


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    out_col: str = "cluster_id",
    scope=None,
) -> DataFrame:
    """Append the 0-based nearest-centroid id (max dot; first wins on
    ties — for unit vectors max dot == max cosine, i.e. spherical
    k-means assignment). NULL and zero-norm vectors get a NULL cluster
    id — a zero vector has no direction, so "nearest centroid by
    cosine" is undefined for it (the degenerate-vector contract shared
    with cosine/quantized_topk; round-6 sweep).

    Scale shape: the centroid matrix ships ONCE per executor as a Spark
    broadcast variable and each Arrow batch scores with a single
    ``V @ C.T`` matmul + row argmax. The plan holds zero centroid
    literals, so plan size and compile time are O(1) in k*dim — a
    production IVF (k≈4096, dim≈1024) is a 32 MB broadcast, not ~4M
    expression nodes. (An earlier revision embedded centroids as
    ``F.lit`` trees; that plan stops compiling at routing-scale k.)
    ``numpy.argmax``'s first-max tie-break matches the previous
    ``array_position(dots, array_max(dots))`` semantics exactly.
    """
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    bc = df.sparkSession.sparkContext.broadcast(
        np.array(centroids, dtype=np.float64)
    )
    if scope is not None:
        scope.add_broadcast(bc)
    # copy the field list — df.schema is a cached object and
    # StructType.add mutates in place, which would corrupt the input df
    out_schema = StructType(df.schema.fields + [StructField(out_col, IntegerType())])

    def kernel(batches):
        import pandas as pd

        C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            vals = pdf[vec_col]
            mask = vals.notna().to_numpy()
            out = np.full(len(pdf), None, dtype=object)
            if mask.any():
                V = np.array(vals[mask].tolist(), dtype=np.float64)
                ok = (V * V).sum(axis=1) > 0
                sub = np.full(int(mask.sum()), None, dtype=object)
                if ok.any():
                    sub[ok] = np.argmax(V[ok] @ C.T, axis=1)
                out[mask] = sub
            pdf = pdf.copy()
            pdf[out_col] = pd.array(out, dtype="Int32")
            yield pdf

    return df.mapInPandas(kernel, schema=out_schema)


def kmeans_centroids(
    vectors: DataFrame,
    n_clusters: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 3,
) -> list[list[float]]:
    """Deterministic spherical mini-Lloyd: returns unit-norm centroids.

    Init is the first ``n_clusters`` rows in ``id_col`` order (no RNG —
    reproducible across runs/partitionings). Each iteration is one
    data-parallel pass: every partition assigns its vectors with one
    broadcast-numpy matmul (see :func:`assign_clusters`) and emits ONE
    partial (cluster, count, sum-vector) row per non-empty cluster, so
    the shuffle carries O(partitions * k * dim) scalars instead of
    |corpus| * dim — at 100 TB that is the difference between a
    kilobyte-scale reduce and re-shuffling the corpus every iteration.
    Only k*dim floats ever reach the driver. IVF needs well-spread
    centroids, not converged ones — 3 iterations is the standard
    routing tradeoff.
    """
    import numpy as np

    normed = vectors.select(
        F.col(id_col).alias("__id"), l2_normalize(_as_double(vec_col)).alias("__v")
    ).where(F.col("__v").isNotNull())
    init_rows = normed.orderBy("__id").limit(n_clusters).select("__v").collect()
    centroids = [list(r["__v"]) for r in init_rows]
    if not centroids:
        # nothing to seed from (empty or all-degenerate corpus):
        # callers treat an empty codebook as "no index" (ivf_topk
        # returns an empty result) rather than crashing the Lloyd loop
        # on a 0-dimensional centroid matrix
        return []
    sc = vectors.sparkSession.sparkContext

    for _ in range(iters):
        bc = sc.broadcast(np.array(centroids, dtype=np.float64))

        def partials(batches):
            import pandas as pd

            C = bc.value
            k, d = C.shape
            sums = np.zeros((k, d), dtype=np.float64)
            counts = np.zeros(k, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.array(pdf["__v"].tolist(), dtype=np.float64)
                assign = np.argmax(V @ C.T, axis=1)
                np.add.at(sums, assign, V)
                counts += np.bincount(assign, minlength=k)
            live = np.nonzero(counts)[0]
            # __s must be dtype=object even when live is EMPTY (a
            # zero-row input split — file splits not aligned to row
            # groups produce them): an empty default-dtype column
            # reaches Arrow as float64, and from_pandas cannot convert
            # that to array<double> (found by the 10M-vector sweep).
            yield pd.DataFrame(
                {
                    "__c": live.astype("int32"),
                    "__n": counts[live],
                    "__s": pd.Series(
                        [sums[c].tolist() for c in live], dtype=object
                    ),
                }
            )

        agg_rows = (
            normed.select("__v")
            .mapInPandas(partials, schema="__c int, __n bigint, __s array<double>")
            .select("__c", "__n", F.posexplode("__s").alias("__pos", "__x"))
            .groupBy("__c", "__pos")
            .agg(F.sum("__x").alias("__sx"), F.sum("__n").alias("__cnt"))
            .collect()
        )
        # collect() completed the only job that reads this iteration's
        # broadcast — release it (a looped trainer otherwise accumulates
        # one block set per iteration on driver AND executors)
        bc.destroy()
        dim = len(centroids[0])
        new_centroids = list(centroids)  # empty clusters keep their old centroid
        acc: dict[int, list[float]] = {}
        for r in sorted(agg_rows, key=lambda r: (r["__c"], r["__pos"])):
            acc.setdefault(r["__c"], [0.0] * dim)[r["__pos"]] = r["__sx"] / r["__cnt"]
        for c, v in acc.items():
            n = math.sqrt(sum(x * x for x in v))
            if n > 0:
                new_centroids[c] = [x / n for x in v]
        centroids = new_centroids
    return centroids


def ivf_index(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, unit vector, cluster_id) — the inverted file.

    Persist with ``.write.partitionBy("cluster_id")`` and probe-time
    cluster filters become parquet partition pruning. Assignment is the
    broadcast-numpy path (:func:`assign_clusters`) — plan size stays
    O(1) in k*dim.
    """
    normed = vectors.select(
        F.col(id_col),
        l2_normalize(_as_double(vec_col)).alias("__v"),
    )
    return assign_clusters(normed, centroids, "__v", "cluster_id")


def save_ivf_index(
    index: DataFrame,
    centroids: list[list[float]],
    path: str,
    mode: str = "overwrite",
    colocate: bool = True,
) -> None:
    """Persist an inverted file for reuse across query batches: vectors
    partitioned by ``cluster_id`` (probe filters become parquet
    partition pruning — only the probed clusters' files are read) plus
    a centroids JSON sidecar (k*dim floats, driver-side by design).

    ``colocate`` (default) repartitions on ``cluster_id`` before the
    write, so each cluster's rows land in ONE task and the layout is
    one file per cluster. Without it, a dynamic-partition write from T
    input tasks emits up to T x k files (the 10M-vector sweep produced
    40 x 256 = 10k small files) and every task sorts the full spread of
    cluster ids — the classic small-files + spill shape. Opt out only
    when the index is already partitioned on ``cluster_id``."""
    import json
    import os

    to_write = index.repartition("cluster_id") if colocate else index
    to_write.write.mode(mode).partitionBy("cluster_id").parquet(os.path.join(path, "vectors"))
    tmp = os.path.join(path, "centroids.json")
    with open(tmp, "w") as f:
        json.dump(centroids, f)


def load_ivf_index(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """Load a persisted inverted file: (index DataFrame, centroids)."""
    import json
    import os

    df = spark.read.parquet(os.path.join(path, "vectors"))
    with open(os.path.join(path, "centroids.json")) as f:
        centroids = json.load(f)
    return df, centroids


def ivf_probe_topk(
    index: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int,
    nprobe: int = 4,
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int | None = 4,
    scope=None,
) -> DataFrame:
    """Probe a prebuilt inverted file (``ivf_index`` output, in-memory
    or loaded via :func:`load_ivf_index`). Each query scores only its
    ``nprobe`` nearest clusters; the (query, cluster) pairs broadcast,
    so the index never shuffles — and on a persisted index the
    cluster_id equi-join prunes to the probed partitions' files."""
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    qn = queries.select(
        F.col(query_id_col).alias("__qid"),
        l2_normalize(_as_double(query_vec_col)).alias("__qv"),
    )
    # top-nprobe cluster ids per query: broadcast-numpy routing (zero
    # centroid literals in the plan — O(1) plan size in k*dim). Stable
    # argsort on -dot = dot desc with deterministic low-id tie-break,
    # matching the assignment kernel's argmax. NULL (zero-norm) query
    # vectors emit no probe rows, as explode(NULL) did before.
    bc = queries.sparkSession.sparkContext.broadcast(
        np.array(centroids, dtype=np.float64)
    )
    if scope is not None:
        scope.add_broadcast(bc)
    probe_schema = StructType(
        qn.schema.fields + [StructField("cluster_id", IntegerType())]
    )
    np_ = min(nprobe, len(centroids))

    def route(batches):
        C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            mask = pdf["__qv"].notna().to_numpy()
            sub = pdf[mask]
            if not len(sub):
                continue
            V = np.array(sub["__qv"].tolist(), dtype=np.float64)
            order = np.argsort(-(V @ C.T), axis=1, kind="stable")[:, :np_]
            out = sub.iloc[np.repeat(np.arange(len(sub)), np_)].copy()
            out["cluster_id"] = order.ravel().astype("int32")
            yield out

    probes = qn.mapInPandas(route, schema=probe_schema)
    score = dot(F.col("__v"), F.col("__qv"))
    if round_to is not None:
        score = F.round(score, round_to)
    scored = index.join(F.broadcast(probes), "cluster_id").select(
        F.col("__qid").alias(query_id_col), F.col(id_col), score.alias("score")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    n_clusters: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    iters: int = 3,
    round_to: int | None = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF probing, building the index inline.

    Each query scores only the ``nprobe`` clusters whose centroids are
    nearest, i.e. ~|corpus|*nprobe/n_clusters exact dot products.
    ``nprobe == n_clusters`` degrades gracefully to exact search. Pass
    precomputed ``centroids`` to skip k-means; for cross-batch reuse
    persist with :func:`save_ivf_index` and probe via
    :func:`ivf_probe_topk` over :func:`load_ivf_index`.
    """
    if centroids is None:
        centroids = kmeans_centroids(vectors, n_clusters, vec_col, id_col, iters)
    if not centroids:
        # empty (or all-degenerate) corpus: no clusters to probe — an
        # empty result with the contract schema, not a kernel crash on
        # a 0-dim centroid matrix (round-6 empty-input sweep)
        spark = vectors.sparkSession
        from pyspark.sql.types import DoubleType, StructField, StructType

        schema = StructType(
            [
                queries.schema[query_id_col],
                vectors.schema[id_col],
                StructField("score", DoubleType()),
            ]
        )
        return spark.createDataFrame([], schema)
    index = ivf_index(vectors, centroids, vec_col, id_col)
    return ivf_probe_topk(
        index, centroids, queries, k, nprobe, id_col, query_vec_col, query_id_col, round_to
    )


def cosine_topk_blas(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int | None = 4,
) -> DataFrame:
    """Arrow/BLAS arm of :func:`cosine_topk` for LARGE query batches.

    The JVM arm scores each (corpus row, query) pair with interpreted
    higher-order expressions — ~µs per pair, which is the right trade
    for a handful of queries but multiplies painfully at
    |corpus| x |queries| when serving hundreds of queries per batch.
    Here the unit-normalized query matrix (q x d floats — bounded by
    construction, query batches are small relative to the corpus) ships
    to every task as a plain numpy array and each corpus Arrow batch
    computes ALL its scores with one ``V @ Q.T`` matmul, then emits only
    its LOCAL top-k rows per query. The global top-k window therefore
    shuffles O(k x queries x batches) rows instead of
    |corpus| x |queries| — the same two-level top-k shape as the shard
    packer's prefix sum.

    Tie-break and ROUNDING match the JVM arm exactly: the kernel emits
    raw doubles with a one-quantum local margin, ``F.round`` (half-away
    -from-zero, like DuckDB) applies at the DataFrame layer, and the
    global window ranks (score desc, id asc) — so no qualifying row is
    pruned batch-side and np.round's half-even ties never leak in.
    """
    import numpy as np

    q_collected = queries.select(
        F.col(query_id_col), l2_normalize(_as_double(query_vec_col))
    ).collect()
    _warn_large_query_collect(len(q_collected), "cosine_topk_blas")
    # degenerate queries never rank (contract)
    q_rows = [r for r in q_collected if r[1] is not None]
    qids = np.array([r[0] for r in q_rows])
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)  # q x d

    # NULL/zero-norm vectors normalize to NULL; drop them MAP-SIDE or
    # the numpy batch matrix goes ragged and the kernel crashes (they
    # could never rank anyway — the JVM arm's NULLS-LAST ordering
    # excludes them implicitly)
    normed = vectors.select(
        F.col(id_col), l2_normalize(_as_double(vec_col)).alias("__v")
    ).where(F.col("__v").isNotNull())
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(query_id_col, LongType()),
            StructField(id_col, LongType()),
            StructField("score", DoubleType()),
        ]
    )

    # the kernel emits RAW doubles and the rounding happens HERE with
    # F.round (half-away-from-zero, matching the JVM arm and DuckDB) —
    # np.round is half-EVEN, so an in-kernel round left a knife-edge at
    # exact 5e-5 score boundaries (round-8 advice). The local top-k
    # keeps a one-quantum margin so no row that could round into a
    # global tie is pruned batch-side.
    quantum = 10.0 ** (-round_to) if round_to is not None else 0.0

    def score_batches(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["__v"].tolist(), dtype=np.float64)  # b x d
            ids = pdf.iloc[:, 0].to_numpy()
            S = V @ Q.T  # b x q
            kk = min(k, len(ids))
            out = {query_id_col: [], id_col: [], "score": []}
            for j in range(len(qids)):
                col = S[:, j]
                # local top-k on the RAW score with a one-quantum
                # margin: anything below (kth raw - quantum) rounds
                # strictly below the kth rounded value, so pruning it
                # cannot change the global rounded ranking
                if kk < len(col):
                    kth = col[np.argpartition(-col, kk - 1)[kk - 1]]
                    keep = np.flatnonzero(col >= kth - quantum)
                else:
                    keep = np.arange(len(col))
                out[query_id_col].extend([qids[j]] * len(keep))
                out[id_col].extend(ids[keep])
                out["score"].extend(col[keep])
            yield pd.DataFrame(out)

    local = normed.mapInPandas(score_batches, schema=out_schema)
    if round_to is not None:
        local = local.withColumn("score", F.round("score", round_to))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        local.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def mine_hard_negatives_blas(
    vectors: DataFrame,
    anchors: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    anchor_vec_col: str = "embedding",
    anchor_id_col: str = "anchor_id",
    anchor_label_col: str = "label",
    round_to: int | None = 4,
) -> DataFrame:
    """Arrow/BLAS arm of :func:`mine_hard_negatives` — the scale path
    when mining negatives for a whole training batch against a large
    corpus: the expression arm pays an interpreted HOF dot per
    (corpus row x anchor) pair, this arm computes every batch's scores
    with ONE ``V @ Q.T`` matmul, masks same-label pairs in the numpy
    kernel, and emits only local top-k rows per anchor (the
    :func:`cosine_topk_blas` two-level top-k shape: the global window
    shuffles O(k x anchors x batches) rows, never
    |corpus| x |anchors|).

    Contract-identical to the expression arm (equality test-pinned):
    ranking on the ROUNDED score with id tie-break, NULL/zero-norm
    vectors and NULL labels excluded on both sides, same-label rows
    (including the anchor itself) never enter the ranking.
    """
    import numpy as np

    a_collected = anchors.select(
        F.col(anchor_id_col),
        l2_normalize(_as_double(anchor_vec_col)),
        F.col(anchor_label_col),
    ).collect()
    _warn_large_query_collect(len(a_collected), "mine_hard_negatives_blas")
    a_rows = [r for r in a_collected if r[1] is not None and r[2] is not None]
    aids = np.array([r[0] for r in a_rows])
    albl = np.array([r[2] for r in a_rows], dtype=object)
    Q = np.array([list(r[1]) for r in a_rows], dtype=np.float64)

    normed = vectors.select(
        F.col(id_col),
        l2_normalize(_as_double(vec_col)).alias("__v"),
        F.col(label_col).alias("__lbl"),
    ).where(F.col("__v").isNotNull() & F.col("__lbl").isNotNull())
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [
            StructField(anchor_id_col, anchors.schema[anchor_id_col].dataType),
            StructField(id_col, vectors.schema[id_col].dataType),
            StructField("score", DoubleType()),
        ]
    )

    # raw doubles out of the kernel, F.round at the DataFrame layer —
    # the cosine_topk_blas fix (round-8 advice): np.round's half-even
    # ties diverge from Spark/DuckDB ROUND at exact 5e-5 boundaries.
    # One-quantum local margin keeps every row that could round into a
    # global tie.
    quantum = 10.0 ** (-round_to) if round_to is not None else 0.0

    def score_batches(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf) or not len(aids):
                continue
            V = np.array(pdf["__v"].tolist(), dtype=np.float64)
            ids = pdf.iloc[:, 0].to_numpy()
            lbl = pdf["__lbl"].to_numpy()
            S = V @ Q.T  # b x q
            out = {anchor_id_col: [], id_col: [], "score": []}
            for j in range(len(aids)):
                valid = lbl != albl[j]  # same-label rows never rank
                if not valid.any():
                    continue
                idv, colv = ids[valid], S[valid, j]
                kk = min(k, len(idv))
                if kk < len(colv):
                    kth = colv[np.argpartition(-colv, kk - 1)[kk - 1]]
                    keep = np.flatnonzero(colv >= kth - quantum)
                else:
                    keep = np.arange(len(colv))
                out[anchor_id_col].extend([aids[j]] * len(keep))
                out[id_col].extend(idv[keep])
                out["score"].extend(colv[keep])
            if out[id_col]:
                yield pd.DataFrame(out)

    local = normed.mapInPandas(score_batches, schema=out_schema)
    if round_to is not None:
        local = local.withColumn("score", F.round("score", round_to))
    w = Window.partitionBy(anchor_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        local.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


# ------------------------------ int8 scalar quantization + re-rank (X42)
def quantization_stats(
    vectors: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension corpus min/max as ONE row of position-sorted
    arrays (``__mn``, ``__mx``) — the codebook for int8 scalar
    quantization. posexplode -> groupBy(pos): dim keys only (64 for the
    test fixture), map-side partial min/max, so the corpus pass reduces
    to #dims rows per task before the one tiny shuffle."""
    v = _as_double(vec_col)
    dims = vectors.select(F.posexplode(v).alias("pos", "x"))
    stats = dims.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    return stats.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("__st")
    ).select(
        F.transform(F.col("__st"), lambda s: s["mn"]).alias("__mn"),
        F.transform(F.col("__st"), lambda s: s["mx"]).alias("__mx"),
    )


def quantize_int8(
    vectors: DataFrame,
    stats: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scalar-quantize each vector against the per-dim codebook:
    ``code_d = floor((x_d - mn_d) / (mx_d - mn_d) * 255 + 0.5)`` (0
    when the dimension is constant). floor(x + 0.5) — NOT round() —
    because the two engines disagree on round-half ties while floor of
    an identical double is identical, so codes are EXACT integers
    cross-engine (the q108 md5-contract idea applied to vectors).

    Returns (id, codes array<int>). The 100 TB story is bandwidth: a
    persisted codes table is 4x smaller than float32 (8x than double),
    so the brute-force scan that dominates ANN candidate generation
    reads a quarter of the bytes; write it with partitioning.write_*
    and re-rank the survivors against the full-precision source of
    truth (quantized_topk below). All JVM-side zip_with — HOF arguments
    evaluate once (no per-element re-eval of the codebook join)."""
    v = _as_double(vec_col)
    num = F.zip_with(v, F.col("__mn"), lambda x, m: x - m)
    den = F.zip_with(F.col("__mx"), F.col("__mn"), lambda a, b: a - b)
    codes = F.zip_with(
        num,
        den,
        lambda n, d: F.when(
            d > 0, F.floor(n / d * F.lit(255.0) + F.lit(0.5))
        ).otherwise(F.lit(0)),
    )
    return vectors.crossJoin(F.broadcast(stats)).select(
        F.col(id_col), codes.cast("array<int>").alias("codes")
    )


def dequantize(codes: Column, mn: Column, mx: Column) -> Column:
    """Reconstruct the approximate double vector from int8 codes and
    the codebook arrays: ``mn_d + code_d * (mx_d - mn_d) / 255``."""
    den = F.zip_with(mx, mn, lambda a, b: a - b)
    scaled = F.zip_with(
        codes, den, lambda c, d: c.cast("double") * d / F.lit(255.0)
    )
    return F.zip_with(scaled, mn, lambda s, m: s + m)


def quantized_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    refine: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int | None = 4,
) -> DataFrame:
    """Two-stage ANN: (1) candidate generation scans the int8-quantized
    corpus — asymmetric distance, full-precision query against
    dequantized corpus codes — keeping the top ``k * refine`` per query
    (TakeOrderedAndProject); (2) the small candidate set joins back to
    the full-precision vectors for an exact cosine re-rank and the
    final top-k. Returns (query_id, vec_id, approx_score, score).

    Scale shape: stage 1 touches only the codes (4x fewer bytes than
    float32 — at 100 TB of vectors the scan is bandwidth-bound, so the
    quantized scan IS the speedup); stage 2 is a broadcast semi of
    k*refine ids against the corpus, never a second full scan of
    anything but the id column pushdown. The codebook and queries ride
    1-row / q-row broadcasts; nothing corpus-scale ever shuffles.

    Ref parity: the reference stores pgvector embeddings full-precision
    (loaders/utils/helpers/database.py:57-94) and has no ANN; X42 is
    extension surface following Faiss SQ8 (Johnson et al. 2017,
    arXiv:1702.08734)."""
    stats = quantization_stats(vectors, vec_col)
    codes = quantize_int8(vectors, stats, vec_col, id_col)
    recon = dequantize(F.col("codes"), F.col("__mn"), F.col("__mx"))
    scored = (
        codes.crossJoin(F.broadcast(stats))
        .crossJoin(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    _as_double(query_vec_col).alias("__q"),
                )
            )
        )
        .select(
            "query_id",
            F.col(id_col),
            cosine(recon, F.col("__q")).alias("__approx"),
        )
        # zero-norm vectors have no meaningful cosine (NULL) — drop
        # them so both arms (this and sq8_topk's kernel, which masks
        # non-finite scores) agree on degenerate inputs
        .where(F.col("__approx").isNotNull())
    )
    return _exact_rerank(
        _top_per_query(scored, "__approx", id_col, k * refine),
        vectors, queries, k, "approx_score",
        vec_col, id_col, query_vec_col, query_id_col, round_to,
    )


def _top_per_query(
    df: DataFrame, score_col: str, id_col: str, n: int
) -> DataFrame:
    """The top ``n`` rows per ``query_id`` by (score DESC, id ASC) — a
    total order, so the cut is deterministic under score ties."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def _rounded(col: str, round_to: int | None) -> Column:
    return F.col(col) if round_to is None else F.round(F.col(col), round_to)


def _exact_rerank(
    cands: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    approx_col: str,
    vec_col: str,
    id_col: str,
    query_vec_col: str,
    query_id_col: str,
    round_to: int | None,
) -> DataFrame:
    """The exact re-rank every quantized probe ends with: join the
    candidate set (query_id, id, ``__approx``) back to the
    full-precision ``vectors`` and the query block, re-score with true
    cosine, keep the top ``k`` per query. Returns (query_id, id,
    ``approx_col``, score).

    The candidate set is BROADCAST: without the hint Catalyst
    sort-merge-joins, shuffling the entire float table to meet a few
    hundred candidate rows (measured 30.9 s vs 13 s at 10M vectors).
    The float scan itself is the irreducible re-rank cost; with the
    vectors laid out sorted/bucketed by id it prunes further at the
    row-group level. Rank and emit read ONE ``__raw`` column — the
    d-length HOF fold is expensive, never evaluated twice per row."""
    exact = (
        F.broadcast(cands)
        .join(
            vectors.select(F.col(id_col), _as_double(vec_col).alias("__v")),
            id_col,
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    _as_double(query_vec_col).alias("__q"),
                )
            ),
            "query_id",
        )
        .withColumn("__raw", cosine(F.col("__v"), F.col("__q")))
    )
    return _top_per_query(exact, "__raw", id_col, k).select(
        "query_id",
        id_col,
        _rounded("__approx", round_to).alias(approx_col),
        _rounded("__raw", round_to).alias("score"),
    )


def _sq8_encoded(
    vectors: DataFrame, mn, mx, vec_col: str, id_col: str
) -> DataFrame:
    """The SQ8 pack kernel shared by :func:`write_sq8_index` (build)
    and :func:`append_sq8_index` (incremental add): encode ``vectors``
    against a FIXED per-dim [mn, mx] codebook. Codes clip to [0, 255]
    — a no-op at build time (stats bound the data by construction) and
    the documented saturation contract for appended vectors outside
    the build-time range (without the clip an out-of-range value would
    WRAP through the uint8 cast: -1 -> 255, the worst possible code)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        DoubleType,
        StructField,
        StructType,
    )

    den = mx - mn
    # the id column keeps ITS OWN type (string keys are as legitimate
    # as longs — the expression arm is id-type-agnostic and the two
    # arms must share a domain)
    id_type = vectors.schema[id_col].dataType
    id_pd_dtype = (
        "int64" if id_type.typeName() in ("long", "integer", "short") else "object"
    )
    out_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("code_bytes", BinaryType()),
            StructField("norm_hat", DoubleType()),
        ]
    )
    # NULL embeddings are excluded by the degenerate-vector contract
    # (matching write_pq_index and the expression arm's NULL-cosine
    # drop) — and a None in the batch would make np.array(...tolist())
    # go ragged and crash the pack kernel
    src = vectors.select(F.col(id_col), _as_double(vec_col).alias("__v")).where(
        F.col("__v").isNotNull()
    )

    def pack(batches):
        for pdf in batches:
            if not len(pdf):
                # empty file splits yield zero-row frames; pin dtypes so
                # Arrow never infers float64 for the binary column (the
                # round-6 empty-batch defect class, BASELINE.md §5g)
                yield pd.DataFrame(
                    {
                        id_col: pd.Series(dtype=id_pd_dtype),
                        "code_bytes": pd.Series(dtype="object"),
                        "norm_hat": pd.Series(dtype="float64"),
                    }
                )
                continue
            V = np.array(pdf["__v"].tolist(), dtype=np.float64)
            # same op order as the expression arm: ((x-mn)/den)*255+0.5
            with np.errstate(divide="ignore", invalid="ignore"):
                frac = (V - mn) / den
            codes = np.where(den > 0, np.floor(frac * 255.0 + 0.5), 0.0)
            codes = np.clip(codes, 0.0, 255.0)
            recon = mn + codes * den / 255.0
            c8 = codes.astype(np.uint8)
            yield pd.DataFrame(
                {
                    id_col: pdf.iloc[:, 0],
                    "code_bytes": [row.tobytes() for row in c8],
                    "norm_hat": np.sqrt((recon * recon).sum(axis=1)),
                }
            )

    return src.mapInPandas(pack, schema=out_schema)


def _fs_write_text(spark: SparkSession, path_str: str, text: str) -> None:
    """Small-text write through the Hadoop FS API (works on any
    cluster-reachable filesystem — the rollup.py I/O rule). Write-temp
    + rename so a reader never observes a half-written file: create()
    makes the path visible EMPTY immediately, and an empty artifacts
    stamp would otherwise crash every probe of its serving version
    (round-10 review catch) rather than skip the epoch."""
    import uuid

    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{path_str}.{uuid.uuid4().hex[:8]}.tmp"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise IOError(f"small-text swap failed: rename {tmp} -> {p}")


def _fs_read_text(
    spark: SparkSession, path_str: str, max_bytes: int = 64 * 1024 * 1024
):
    """Small-text read through the Hadoop FS API; ``None`` when the
    file does not exist. Bulk-copied via IOUtils (a byte-per-py4j-call
    loop costs O(bytes) JVM round trips — round-10 review catch), and
    a file PAST ``max_bytes`` raises instead of silently truncating:
    a manifest cut mid-JSON would otherwise crash every probe of its
    serving version with a parse error that looks like corruption."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    size = fs.getFileStatus(p).getLen()
    if size > max_bytes:
        raise ValueError(
            f"{path_str!r} is {size} bytes (> {max_bytes}) — refusing a "
            "truncated read"
        )
    stream = fs.open(p)
    baos = jvm.java.io.ByteArrayOutputStream()
    try:
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, False)
    finally:
        stream.close()
    return bytes(baos.toByteArray()).decode("utf-8")


_MANIFEST = "_MANIFEST"
_EPOCH_ARTIFACTS = "_ARTIFACTS_ID"


def read_index_manifest(spark: SparkSession, index_dir: str):
    """The serving-version manifest (``<index_dir>/_MANIFEST``, JSON):
    ``{"artifacts_id": int, "folded": [epoch batch ids]}`` — present
    only on versions managed by operators/index_lifecycle.py. ``None``
    on a plain (unversioned) index dir, which is what keeps every
    pre-lifecycle index reading exactly as before."""
    import json

    txt = _fs_read_text(spark, f"{index_dir}/{_MANIFEST}")
    return None if txt is None else json.loads(txt)


def write_index_manifest(
    spark: SparkSession, index_dir: str, artifacts_id: int, folded,
    extra: dict | None = None,
) -> None:
    """``extra`` merges additional version-level facts into the
    manifest — e.g. the ivfpq ``routing_baseline`` (the build corpus's
    own p10 routing confidence, measured by index_lifecycle.
    rebuild_serving_index) that rebuild_if_drifted's default policy
    compares incoming batches against. The two core keys win on
    collision."""
    import json

    doc = dict(extra or {})
    doc.update({"artifacts_id": int(artifacts_id), "folded": sorted(folded)})
    _fs_write_text(spark, f"{index_dir}/{_MANIFEST}", json.dumps(doc))


def _codes_df(spark: SparkSession, path: str) -> DataFrame:
    """The index codes table: ``<path>/codes`` (the batch build +
    any :func:`append_*_index` rows) unioned with every COMMITTED
    streaming-maintenance epoch under ``<path>/codes_batches/batch_*``
    (streaming/index_maintain.py — each epoch is its own
    overwrite-idempotent directory; ``_SUCCESS`` gates out
    crashed-midway writes, the list_success_dirs contract). Every
    probe reads through this, so batch-built, appended, and streamed
    codes serve as ONE index. Filters (e.g. ivfpq's cluster_id
    partition prune) push into each member scan.

    When ``path`` is a lifecycle-managed serving VERSION (it carries a
    ``_MANIFEST`` — operators/index_lifecycle.py), the epochs live at
    the serving ROOT (``<path>/../codes_batches``) shared across
    versions, and the union takes exactly the committed epochs the
    manifest has NOT folded into this version's base whose
    ``_ARTIFACTS_ID`` matches the version's artifacts lineage. That
    membership rule is what makes compaction race-free: an epoch
    committing while a compaction runs is simply absent from the new
    version's folded list and keeps being served from the shared
    directory — included-or-still-served, never silently dropped. An
    epoch stamped by OLDER artifacts (pre-rebuild) has incompatible
    codes and is excluded; its documents come from the rebuild corpus
    (epochs are derived data, the corpus table is the source of
    truth)."""
    from kfai_pipeline_spark.operators.dedup import list_success_dirs

    df = spark.read.parquet(f"{path}/codes")
    for _, d in list_success_dirs(spark, f"{path}/codes_batches", ("batch_",)):
        df = df.unionByName(spark.read.parquet(d))
    manifest = read_index_manifest(spark, path)
    if manifest is not None:
        root = path.rstrip("/").rsplit("/", 1)[0]
        folded = set(manifest["folded"])
        aid = int(manifest["artifacts_id"])
        for bid, d, stamp in list_epoch_dirs(spark, root):
            if bid in folded or stamp != aid:
                continue
            df = df.unionByName(spark.read.parquet(d))
    return df


def _epoch_stamp(spark: SparkSession, epoch_dir: str):
    """The epoch's artifacts-lineage stamp, or ``None`` when absent OR
    unparsable — a torn/garbled stamp must read as "not servable yet",
    never crash the probe (the write side is temp+rename, so this is
    belt-and-braces for foreign writers)."""
    txt = _fs_read_text(spark, f"{epoch_dir}/{_EPOCH_ARTIFACTS}")
    if txt is None:
        return None
    try:
        return int(txt.strip())
    except ValueError:
        return None


def list_epoch_dirs(
    spark: SparkSession, root: str
) -> list[tuple[int, str, int | None]]:
    """(batch_id, path, artifacts stamp) of every COMMITTED shared
    epoch under ``<root>/codes_batches`` — the ONE home of the
    bid-parse + stamp-read rule, shared by the probe-side union above
    and every index_lifecycle maintenance op (round-10 review catch:
    two hand-synced copies). ``stamp`` is None when the sidecar has
    not landed or is unparsable (not-servable-yet)."""
    from kfai_pipeline_spark.operators.dedup import list_success_dirs

    out: list[tuple[int, str, int | None]] = []
    for name, d in list_success_dirs(
        spark, f"{root}/codes_batches", ("batch_",)
    ):
        try:
            bid = int(name[len("batch_"):])
        except ValueError:
            continue
        out.append((bid, d, _epoch_stamp(spark, d)))
    return out


def write_sq8_index(
    vectors: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persist the SQ8 index: ``<path>/stats`` (1-row per-dim codebook)
    and ``<path>/codes`` (id, code_bytes BINARY — uint8-PACKED, one
    byte per dimension — plus the precomputed reconstruction norm).

    Packing into a binary column (not array<int>) is the point: parquet
    has no int8 physical type, so an int array burns 4 bytes/dim before
    encoding, while the packed bytes hit the advertised 4x-vs-float32
    size cut — at 100 TB of vectors the candidate scan is
    bandwidth-bound, and the codes table IS the bytes it reads. The
    reconstruction norm rides along so the scan never has to rebuild
    it. Same floor(x+0.5) code math as :func:`quantize_int8`, same
    operation order, so both arms produce identical codes."""
    import numpy as np

    stats_df = quantization_stats(vectors, vec_col)
    stats_df.write.mode("overwrite").parquet(f"{path}/stats")
    srow = stats_df.sparkSession.read.parquet(f"{path}/stats").collect()[0]
    mn = np.array(srow["__mn"], dtype=np.float64)
    mx = np.array(srow["__mx"], dtype=np.float64)
    _sq8_encoded(vectors, mn, mx, vec_col, id_col).write.mode(
        "overwrite"
    ).parquet(f"{path}/codes")


def build_ann_index(
    docs: DataFrame,
    path: str,
    kind: str = "sq8",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 16,
    m: int = 8,
    opq_iters: int = 0,
) -> None:
    """The ONE kind dispatch for building a persisted ANN index —
    ``rag.build_retrieval_index`` (serving plans) and
    index_lifecycle's versioned builds both delegate here, so adding
    an index kind is one edit (round-10 review catch: two hand-synced
    dispatch copies). ``opq_iters > 0`` (ivfpq only) trains the X54
    OPQ residual rotation into the index — every downstream consumer
    (probe, append, streaming epoch encode, compaction copy) reads the
    rotation from the artifacts, so the opt-in is build-time only."""
    if kind == "sq8":
        write_sq8_index(docs, path, vec_col=vec_col, id_col=id_col)
    elif kind == "ivfpq":
        vectors = docs.select(id_col, vec_col)
        res = train_ivfpq(
            vectors, n_clusters=n_clusters, m=m,
            vec_col=vec_col, id_col=id_col, opq_iters=opq_iters,
        )
        centroids, codebooks, rotation = (
            res if opq_iters > 0 else (*res, None)
        )
        write_ivfpq_index(
            vectors, path, centroids, codebooks,
            vec_col=vec_col, id_col=id_col, rotation=rotation,
        )
    else:
        raise ValueError(f"unknown index kind: {kind!r}")


def _serving_kind(kind: str):
    """The ONE kind dispatch for serving a persisted ANN index (the
    build side is :func:`build_ann_index`): ``(probe, append)``.
    ``probe`` is the shared kernel bound to the kind's codec — call it
    as ``probe(spark, path, queries, k, refine, vectors, ..., scope=,
    nprobe=)``; ``nprobe`` only routes ivfpq. ``append`` is the kind's
    ``append_*_index``."""
    import functools

    if kind == "sq8":
        codec, append = _SQ8, append_sq8_index
    elif kind == "ivfpq":
        codec, append = _IVFPQ, append_ivfpq_index
    else:
        raise ValueError(f"unknown index kind: {kind!r}")
    return functools.partial(_probe_codes, codec), append


def index_drift_stats(
    vectors: DataFrame,
    index_path: str,
    kind: str = "sq8",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scope=None,
) -> DataFrame:
    """Measure how far an incoming batch has drifted from an index's
    FROZEN build-time artifacts — the rebuild trigger the README
    decision table's freshness column asks for, as a number instead of
    a guess. Runs as one JVM-side aggregate over the batch (the
    artifacts are a broadcast-literal row; no Python in the hot path).

    ``kind="sq8"``: fraction of rows with ANY dimension outside the
    build-time [mn, mx] range (those dimensions SATURATE at encode —
    append_sq8_index's clip contract — so their approximate scores
    degrade), plus the worst per-row relative overshoot. Returns one
    row: (n_rows, n_out_of_range, frac_out_of_range, max_overshoot).

    ``kind="ivfpq"``: routing confidence — the mean and p10 of each
    row's best cosine against the frozen coarse book (l2-normalized
    domain, the assignment's own objective). A fresh-regime batch
    scores like the build sample; a drifted one routes into far
    centroids and its residuals outgrow the codebooks. Returns one
    row: (n_rows, mean_best_cos, p10_best_cos).

    Degenerate vectors (NULL/zero-norm) are excluded — the encode
    kernels drop them, so they cannot drift what they never enter.
    An EMPTY batch (or all-degenerate) reads as zero drift on both
    arms: sq8 reports 0 counts/overshoot, ivfpq reports confidence
    1.0 — a quiet ingest window must never trip a rebuild policy or
    TypeError a `< baseline` comparison on NULL. Policy is the
    caller's (e.g. rebuild when frac_out_of_range > 0.05 or
    p10_best_cos falls below the build-time baseline). ``scope`` (a
    dedup.CacheScope) tracks the ivfpq arm's centroid broadcast for
    deterministic release — a per-ingest-batch monitor loop without
    one accretes an executor-resident broadcast per call."""
    spark = vectors.sparkSession
    if kind == "sq8":
        srow = spark.read.parquet(f"{index_path}/stats").collect()[0]
        mn = [float(x) for x in srow["__mn"]]
        mx = [float(x) for x in srow["__mx"]]
        if not mn:
            raise ValueError("empty-built SQ8 index has no stats to drift from")
        v = _as_double(vec_col)
        src = vectors.where(v.isNotNull()).where(
            F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x) > 0
        )
        mn_c = F.lit(mn).cast("array<double>")
        mx_c = F.lit(mx).cast("array<double>")
        zipped = F.arrays_zip(v.alias("x"), mn_c.alias("lo"), mx_c.alias("hi"))
        out_flag = F.exists(
            zipped, lambda s: (s["x"] < s["lo"]) | (s["x"] > s["hi"])
        )
        # relative overshoot vs the dimension's build-time span (span 0
        # => any departure is infinite drift conceptually; guard to the
        # absolute overshoot there)
        overshoot = F.aggregate(
            zipped,
            F.lit(0.0),
            lambda acc, s: F.greatest(
                acc,
                F.when(
                    s["x"] > s["hi"],
                    (s["x"] - s["hi"])
                    / F.when(s["hi"] != s["lo"], s["hi"] - s["lo"]).otherwise(
                        F.lit(1.0)
                    ),
                )
                .when(
                    s["x"] < s["lo"],
                    (s["lo"] - s["x"])
                    / F.when(s["hi"] != s["lo"], s["hi"] - s["lo"]).otherwise(
                        F.lit(1.0)
                    ),
                )
                .otherwise(F.lit(0.0)),
            ),
        )
        return src.select(
            out_flag.cast("long").alias("__out"), overshoot.alias("__ov")
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            # SUM over an empty batch is NULL, not 0 (the empty-sweep
            # class) — an empty monitor read must report zero drift
            F.coalesce(F.sum("__out"), F.lit(0)).alias("n_out_of_range"),
            F.round(
                F.coalesce(F.avg("__out"), F.lit(0.0)), 4
            ).alias("frac_out_of_range"),
            F.round(F.coalesce(F.max("__ov"), F.lit(0.0)), 4).alias(
                "max_overshoot"
            ),
        )
    if kind == "ivfpq":
        # one V @ C.T GEMM per Arrow batch, never a per-centroid
        # expression tree (the round-3 lesson: k_c x d HOF expressions
        # re-evaluate captured subtrees per element — 27x slower than
        # the matmul at 192 planes)
        import numpy as np
        import pandas as pd
        from pyspark.sql.types import DoubleType, StructField, StructType

        centroids, _ = load_ivfpq_meta(spark, index_path)
        if not centroids:
            raise ValueError("empty-built IVFPQ index has no coarse book")
        bc = spark.sparkContext.broadcast(
            np.array(centroids, dtype=np.float64)
        )
        if scope is not None:
            scope.add_broadcast(bc)
        vn = l2_normalize(_as_double(vec_col))
        src = vectors.select(vn.alias("__v")).where(F.col("__v").isNotNull())

        def best_cos(batches):
            C = bc.value
            for pdf in batches:
                if not len(pdf):
                    yield pd.DataFrame({"__best": pd.Series(dtype="float64")})
                    continue
                V = np.array(pdf["__v"].tolist(), dtype=np.float64)
                yield pd.DataFrame({"__best": (V @ C.T).max(axis=1)})

        scored = src.mapInPandas(
            best_cos, schema=StructType([StructField("__best", DoubleType())])
        )
        return scored.agg(
            F.count(F.lit(1)).alias("n_rows"),
            # empty batch: confidence 1.0 = zero drift (never NULL — a
            # `p10 < baseline` policy must not TypeError on a quiet
            # ingest window), mirroring the sq8 arm's zero counts
            F.round(
                F.coalesce(F.avg("__best"), F.lit(1.0)), 4
            ).alias("mean_best_cos"),
            F.round(
                F.coalesce(F.expr("percentile(__best, 0.1)"), F.lit(1.0)), 4
            ).alias("p10_best_cos"),
        )
    raise ValueError(f"unknown index kind: {kind!r}")


def compact_ann_index(
    spark: SparkSession,
    src: str,
    dest: str,
    kind: str = "sq8",
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact a fragmented ANN index into a fresh ``dest`` — the X48
    maintenance step for the X52/X52b lifecycle: batch appends add
    files and every streamed epoch adds a ``codes_batches/batch_<id>``
    directory, so after N ingest days a probe opens O(N) small files
    for what is logically one codes table. This rewrites ALL committed
    codes (``_codes_df``: build + appends + streamed epochs) into
    ``dest/codes`` at compaction-sized file counts and copies the
    frozen artifacts (stats / centroids / codebooks) verbatim — codes
    are never re-encoded, so probes over ``dest`` are bit-identical to
    probes over ``src``. ``dest`` is a NEW directory and the caller
    flips its serving pointer (the optimize_table/rollup convention —
    never an in-place rewrite, and never concurrent with a live
    maintainer writing new epochs into ``src``: an epoch committing
    after the listing here would be silently absent from ``dest``).
    For the COMMITTED pointer + live-maintainer-safe form use
    operators/index_lifecycle.py's ``compact_serving_index`` — its
    manifest membership rule makes a racing epoch
    included-or-still-served by construction.

    Measured payoff (BASELINE §5y, 10M vectors): 16 streamed epochs =
    340 files -> 6, probe 1.21x; 64 epochs = 1300 files -> 6, probe
    2.56x — superlinear in epoch count even on one NVMe, and an
    object store adds per-epoch LIST/GET round-trips on top.

    Returns {files_before, files_after, n_rows}."""
    if kind not in ("sq8", "ivfpq"):
        raise ValueError(f"unknown index kind: {kind!r}")
    if read_index_manifest(spark, src) is not None:
        # a lifecycle serving VERSION: _codes_df would fold the shared
        # root epochs while the sizing below never lists their bytes
        # (undersized n_out -> one oversized file, the round-9 hazard),
        # and the dest would escape the manifest protocol entirely
        raise ValueError(
            f"{src!r} is a lifecycle-managed serving version — compact "
            "its ROOT with index_lifecycle.compact_serving_index"
        )
    from kfai_pipeline_spark.operators.dedup import list_success_dirs
    from kfai_pipeline_spark.operators.partitioning import _list_data_files

    codes = _codes_df(spark, src)
    # size from ALL committed code bytes — base + every streamed epoch:
    # in the fragmented-index case the epochs ARE the bulk of the data,
    # and sizing from the seed alone would rewrite N ingest days into
    # one oversized file (round-9 review catch)
    files = _list_data_files(spark, f"{src}/codes")
    for _, d in list_success_dirs(spark, f"{src}/codes_batches", ("batch_",)):
        files += _list_data_files(spark, d)
    files_before = _compact_codes_write(
        spark, codes, files, dest, kind, target_bytes
    )
    _copy_index_artifacts(spark, src, dest, kind)
    n_rows = spark.read.parquet(f"{dest}/codes").count()
    return {
        "files_before": files_before,
        "files_after": len(_list_data_files(spark, f"{dest}/codes")),
        "n_rows": n_rows,
    }


def _compact_codes_write(
    spark: SparkSession,
    codes: DataFrame,
    files: list[tuple[str, int]],
    dest: str,
    kind: str,
    target_bytes: int,
) -> int:
    """The compaction write shared by :func:`compact_ann_index` (plain
    dirs) and index_lifecycle.compact_serving_index (versioned roots).
    Returns the pre-compaction file count (``files`` is the caller's
    listing of every member the ``codes`` frame reads)."""
    total = sum(b for _, b in files) or 1
    n_out = max(1, -(-total // max(1, target_bytes)))  # ceil
    if kind == "ivfpq":
        # keep the cluster_id partition layout — the probe's pruning.
        # File sizing note: this is one file per cluster (repartition
        # on the key), NOT target_bytes-sized — splitting clusters
        # across tasks under partitionBy re-fragments (T tasks x k
        # dirs small files, the save_ivf_index lesson), and an
        # oversized hot-cluster file is still row-group-splittable at
        # scan time. target_bytes governs the sq8 arm only.
        # A ZERO-row dynamic-partition write emits no part files (the
        # write_ivfpq_index hazard class) and would leave dest
        # unreadable — the empty table degrades to an unpartitioned
        # schema-bearing write.
        if codes.limit(1).count() == 0:
            writer = codes.write.mode("overwrite")
        else:
            writer = codes.repartition("cluster_id").write.mode(
                "overwrite"
            ).partitionBy("cluster_id")
    else:
        writer = codes.repartition(n_out).write.mode("overwrite")
    writer.parquet(f"{dest}/codes")
    return len(files)


def _copy_index_artifacts(
    spark: SparkSession, src: str, dest: str, kind: str
) -> None:
    """Copy the frozen artifacts verbatim (tiny one-row/one-file
    tables; a valid index of the kind always carries them, so a
    missing side fails loudly here rather than at first probe of
    ``dest``). Codes are never re-encoded, so probes over ``dest``
    stay bit-identical to probes over ``src``."""
    sides = ("stats",) if kind == "sq8" else ("centroids", "codebooks")
    for side in sides:
        spark.read.parquet(f"{src}/{side}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{dest}/{side}")
    if kind == "ivfpq":
        # the OPQ rotation is OPTIONAL (only opq-trained builds carry
        # one) — copy when present; on None the shared saver REMOVES a
        # stale dest rotation (a reused dest dir must not keep one)
        _save_ivfpq_rotation(spark, dest, load_ivfpq_rotation(spark, src))


def append_sq8_index(
    vectors: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally add ``vectors`` to a persisted SQ8 index — the
    add-after-train shape (Faiss ``index.add`` after ``train``): the
    per-dim [mn, mx] codebook at ``<path>/stats`` is FROZEN at build
    time and new codes append to ``<path>/codes`` without touching
    existing files. At 10^10 vectors a daily ingest re-encoding the
    whole corpus would read and write every code byte for a <1%
    delta; the append writes only the delta.

    Contracts: (1) appended values outside the build-time range
    SATURATE to the nearest bound (documented in :func:`_sq8_encoded`)
    — approximate scores for such rows degrade gracefully and the
    exact re-rank corrects the final ranking, but if the data
    distribution has drifted past the stats, rebuild (the README
    decision table's freshness column); (2) id uniqueness is the
    CALLER's contract, as with any lakehouse append — appending an
    existing id yields duplicate candidate rows, not an upsert.
    Parity: q128 — retrieval over build(A)+append(B) is row-identical
    to brute over A∪B in the exhaustive-probe regime."""
    import numpy as np

    spark = vectors.sparkSession
    srow = spark.read.parquet(f"{path}/stats").collect()[0]
    mn = np.array(srow["__mn"], dtype=np.float64)
    mx = np.array(srow["__mx"], dtype=np.float64)
    if mn.size == 0:
        raise ValueError(
            "cannot append to an empty-built SQ8 index (no stats row to "
            "encode against) — rebuild with write_sq8_index"
        )
    _sq8_encoded(vectors, mn, mx, vec_col, id_col).write.mode(
        "append"
    ).parquet(f"{path}/codes")


def _topk_by_score_then_id(ids, scores, kk: int):
    """Indices of the top-``kk`` rows by (score DESC, id ASC) — exact
    and mostly vectorized: an O(n) partition finds the kk-th largest
    score, the candidate mask keeps every row at-or-above it (boundary
    ties included), and the lexsort orders only that subset. Exactness
    at the boundary matters: the global window re-ranks by the same
    keys, so a locally dropped boundary tie would change the candidate
    pool relative to the single-query arm."""
    import numpy as np

    n = len(scores)
    if n <= kk:
        return np.lexsort((ids, -scores))
    t = np.partition(scores, n - kk)[n - kk]  # the kk-th LARGEST score
    cand = np.nonzero(scores >= t)[0]
    order = np.lexsort((ids[cand], -scores[cand]))[:kk]
    return cand[order]


class _PartitionTopK:
    """Running per-query top-``kk`` across a partition's Arrow batches
    for the probe kernel (:func:`_probe_codes`): each batch folds its
    local candidates into the running pool and the kernel emits ONE
    frame per PARTITION. Per-BATCH emission (the original two-level
    shape) puts O(batches x queries x kk) rows through the global
    window — at 10^3 queries over 10M vectors that was ~3x10^8 sort
    rows and a Java-heap OOM in the window's UnsafeExternalSorter
    (round-10 1k-query spot catch); per-partition emission caps the
    shuffle at O(partitions x queries x kk) independent of batch
    count. State is bounded: <= 2 x kk rows per query during a
    merge."""

    def __init__(self, kk: int):
        self.kk = kk
        self._ids: dict = {}
        self._scores: dict = {}

    def add(self, q_idx: int, ids, scores) -> None:
        import numpy as np

        keep = _topk_by_score_then_id(ids, scores, self.kk)
        ids, scores = ids[keep], scores[keep]
        if q_idx in self._ids:
            ids = np.concatenate([self._ids[q_idx], ids])
            scores = np.concatenate([self._scores[q_idx], scores])
            keep2 = _topk_by_score_then_id(ids, scores, self.kk)
            ids, scores = ids[keep2], scores[keep2]
        self._ids[q_idx], self._scores[q_idx] = ids, scores

    def emit(self, qids, id_col: str, score_col: str):
        """One pandas frame holding every query's partition-local
        top-kk (empty iterator when the partition saw no rows)."""
        import pandas as pd

        if not self._ids:
            return
        out = {"query_id": [], id_col: [], score_col: []}
        for q_idx, ids in self._ids.items():
            out["query_id"].extend([qids[q_idx]] * len(ids))
            out[id_col].extend(ids)
            out[score_col].extend(self._scores[q_idx])
        yield pd.DataFrame(out)


class _Codec(NamedTuple):
    """What one persisted index kind plugs into :func:`_probe_codes`:
    everything else about a probe is shared."""

    name: str  # the public probe (named in the query-collect warning)
    approx_col: str  # the approximate-score output column
    load: Callable  # (spark, path) -> frozen artifacts; None = empty-built
    prepare: Callable  # (artifacts, Q, nprobe) -> the scan's query payload
    scores: Callable  # (payload, pdf) -> batch x query; non-finite = skip
    prune: Callable | None = None  # (codes_df, payload) -> pruned codes_df


def _probe_codes(
    codec: _Codec,
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    refine: int,
    vectors: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int | None = 4,
    scope=None,
    nprobe: int | None = None,
) -> DataFrame:
    """The one quantized probe kernel (module docstring: "Quantized
    probe family"). Collects the query block once (NULL and zero-norm
    rows produce no output), scans ``_codes_df(path)`` — pruned by the
    codec when it routes — with ``mapInPandas`` through
    :class:`_PartitionTopK`, keeps the global top ``k*refine`` per
    query, and re-ranks exactly when ``vectors`` is given. Returns
    (query_id, id, ``codec.approx_col``[, score]); an empty-built index
    or an all-degenerate query block returns that schema with no rows.

    The query payload is a ``scope``-tracked broadcast when a
    dedup.CacheScope is given; otherwise it rides in the scan closure,
    which Spark ships with the task binary and drops with the stage —
    an untracked broadcast per probe would outlive it."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    arts = codec.load(spark, path)
    codes_df = _codes_df(spark, path)
    q_collected = queries.select(
        F.col(query_id_col), _as_double(query_vec_col)
    ).collect()
    _warn_large_query_collect(len(q_collected), codec.name)
    q_rows = [
        r for r in q_collected if r[1] is not None and any(x != 0 for x in r[1])
    ]
    # id types follow the data: string keys work exactly like longs
    qid_field = StructField("query_id", queries.schema[query_id_col].dataType)
    id_field = codes_df.schema[id_col]
    if arts is None or not q_rows:
        fields = [
            qid_field, id_field, StructField(codec.approx_col, DoubleType())
        ]
        if vectors is not None:
            fields.append(StructField("score", DoubleType()))
        return spark.createDataFrame([], StructType(fields))
    qids = np.array([r[0] for r in q_rows])
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    payload = codec.prepare(arts, Q, nprobe)
    bc = None
    if scope is not None:
        bc = spark.sparkContext.broadcast(payload)
        scope.add_broadcast(bc)
    inline = payload if bc is None else None  # what the closure ships
    if codec.prune is not None:
        codes_df = codec.prune(codes_df, payload)
    n_cand = k * refine

    def scan(batches):
        p = inline if bc is None else bc.value
        acc = _PartitionTopK(n_cand)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            S = codec.scores(p, pdf)
            for j in range(S.shape[1]):
                col = S[:, j]
                # non-finite = not a candidate (zero-norm codes, a
                # cluster the query does not probe)
                valid = np.isfinite(col)
                if valid.any():
                    acc.add(j, ids[valid], col[valid])
        yield from acc.emit(qids, id_col, "__approx")

    out_schema = StructType(
        [qid_field, id_field, StructField("__approx", DoubleType())]
    )
    cands = _top_per_query(
        codes_df.mapInPandas(scan, schema=out_schema), "__approx", id_col, n_cand
    )
    if vectors is None:
        return cands.select(
            "query_id", id_col,
            _rounded("__approx", round_to).alias(codec.approx_col),
        )
    return _exact_rerank(
        cands, vectors, queries, k, codec.approx_col,
        vec_col, id_col, query_vec_col, query_id_col, round_to,
    )


def _unit_rows(Q):
    import numpy as np

    return Q / np.sqrt((Q * Q).sum(axis=1))[:, None]


def _adc_luts(books, Q):
    """(queries x m x n_codes) ADC lookup tables, ``LUT[i][j][c] =
    Q_i[subspace j] · centroid_jc`` — built once per query, so every
    code's approximate dot is m gathers summed."""
    import numpy as np

    sub = books[0].shape[1]
    return np.stack(
        [
            np.stack(
                [B @ q[j * sub : (j + 1) * sub] for j, B in enumerate(books)]
            )
            for q in Q
        ]
    )


def _sq8_load(spark: SparkSession, path: str):
    import numpy as np

    srow = spark.read.parquet(f"{path}/stats").collect()[0]
    mn = np.array(srow["__mn"], dtype=np.float64)
    mx = np.array(srow["__mx"], dtype=np.float64)
    return (mn, mx) if mn.size else None


def _sq8_prepare(arts, Q, nprobe):
    import numpy as np

    # the asymmetric dot is LINEAR in the codes: dot(recon, q) = q·mn +
    # (q*scale)·c — so a batch scores as ONE uint8-matrix matmul
    # against these weights plus a constant, no per-pair dequantization
    mn, mx = arts
    return Q * ((mx - mn) / 255.0), Q @ mn, np.sqrt((Q * Q).sum(axis=1))


def _sq8_scores(payload, pdf):
    import numpy as np

    W, const, qnorm = payload
    C = np.frombuffer(
        b"".join(pdf["code_bytes"]), dtype=np.uint8
    ).reshape(len(pdf), -1).astype(np.float64)
    dots = C @ W.T + const
    denom = pdf["norm_hat"].to_numpy()[:, None] * qnorm[None, :]
    # zero-norm codes score -inf: EXCLUDED, as the expression arm
    # (quantized_topk) drops its NULL-cosine rows
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom > 0, dots / denom, -np.inf)


_SQ8 = _Codec("sq8_topk", "approx_score", _sq8_load, _sq8_prepare, _sq8_scores)


def sq8_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    refine: int = 4,
    vectors: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int | None = 4,
) -> DataFrame:
    """Scan the persisted SQ8 index for top-``k*refine`` candidates per
    query, then (when ``vectors`` is given) re-rank them exactly against
    the full-precision table. Returns (query_id, vec_id, approx_score[,
    score]).

    Each Arrow batch of the codes table (1 byte/dim + one stored norm,
    the only corpus-scale read) scores as one uint8-matrix matmul — see
    :func:`_sq8_prepare`."""
    return _probe_codes(
        _SQ8, spark, path, queries, k, refine, vectors, vec_col, id_col,
        query_vec_col, query_id_col, round_to,
    )


# ----------------------------- product quantization (IVF-PQ, X43)
_QUERY_COLLECT_WARN_ABOVE = 100_000


def _warn_large_query_collect(n: int, fn: str) -> None:
    """The ANN entry points collect the QUERY side to the driver by
    design (queries are the broadcast side; tens-to-thousands of rows).
    A million-query frame is no longer a query batch — warn that the
    collect is driver-memory-bound and name the large-batch arm
    (mirrors sources/skip_list.py's control-metadata guard)."""
    if n > _QUERY_COLLECT_WARN_ABOVE:
        import warnings

        warnings.warn(
            f"{fn} collected {n:,} query rows to the driver — beyond the "
            "query-batch contract (the kernel broadcasts all of them to "
            "every task). For corpus-scale query sets use the banded "
            "join arm (cosine_topk_lsh) or split the batch.",
            ResourceWarning,
            stacklevel=3,
        )


def _hash_sample_rows(
    vectors: DataFrame,
    vec_col: str,
    sample_rows: int,
    seed: int,
) -> list:
    """Deterministic, layout-invariant ~``sample_rows`` vector sample:
    hash-FILTER on the vector content (a pure row function), NOT
    orderBy(hash).limit(n) — a global "limit" compiles to
    TakeOrderedAndProject, which driver-merges every partition's local
    top-n: O(partitions x sample) rows to the driver (at 10M x 64d
    that is ~2.4 GB and aborts on spark.driver.maxResultSize, found by
    scripts/pq_vec_spot.py). The filter ships ~sample_rows, period.
    Returns rows sorted by vector content (deterministic fit order)."""
    src = vectors.select(_as_double(vec_col).alias("__v")).where(
        F.col("__v").isNotNull()
    )
    total = src.count()
    if total > sample_rows:
        h = F.pmod(
            F.xxhash64(F.col("__v").cast("string"), F.lit(seed)), F.lit(1_000_000)
        )
        keep = int(1_000_000 * sample_rows / total)
        src = src.where(h < keep)
    return sorted(src.collect(), key=lambda r: tuple(r["__v"]))


def _fit_pq_numpy(X, m: int, n_codes: int, iters: int) -> list:
    """Per-subspace k-means over a driver-side (n x d) numpy sample.
    ``X`` rows must already be in the space the ADC scan ranks in
    (unit-normalized vectors, or coarse-centroid residuals for IVFPQ).
    Returns m (k x d/m) nested float lists."""
    import numpy as np

    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = []
    for j in range(m):
        Xs = X[:, j * sub : (j + 1) * sub]
        k = min(n_codes, len(Xs))
        C = Xs[:k].copy()
        for _ in range(iters):
            # matmul identity (||c||^2 - 2 v.c; the ||v||^2 term drops
            # under argmin) — the (x-c)^2 broadcast form materialized a
            # samples x codes x dims temp and made training ~180 s at a
            # 100k sample; this is one GEMM (~2 s)
            d2 = (C * C).sum(axis=1)[None, :] - 2.0 * (Xs @ C.T)
            assign = d2.argmin(axis=1)
            sums = np.zeros_like(C)
            counts = np.zeros(k, dtype=np.int64)
            np.add.at(sums, assign, Xs)
            np.add.at(counts, assign, 1)
            nz = counts > 0
            C[nz] = sums[nz] / counts[nz, None]
        books.append([list(map(float, row)) for row in C])
    return books


def train_pq_codebooks(
    vectors: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
    iters: int = 10,
    seed: int = 42,
) -> list:
    """Train ``m`` per-subspace codebooks of ``n_codes`` centroids each
    (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    Search"): split the d dims into m contiguous subspaces of d/m and
    k-means each independently.

    Deterministic sample-fit: training runs driver-side numpy over a
    hash-FILTERED sample of ~``sample_rows`` vectors (PQ needs
    representative centroids, not a distributed fit — Faiss trains on
    samples too). The filter is a pure function of the vector content,
    so the sample (and therefore the codebooks) is layout-invariant.
    NOT orderBy(hash).limit(n): a global top-100k "limit" compiles to
    TakeOrderedAndProject, which driver-merges every partition's local
    top-100k — O(partitions x sample) rows to the driver; at 10M x 64d
    that is ~2.4 GB and aborts on spark.driver.maxResultSize (found by
    scripts/pq_vec_spot.py). The filter ships ~sample_rows, period.
    Returns a list of m (n_codes x d/m) float lists; the driver holds
    n_codes*d floats — the same footprint as ONE IVF codebook.
    """
    import numpy as np

    sample = _hash_sample_rows(vectors, vec_col, sample_rows, seed)
    if not sample:
        return []
    X = np.array([list(r["__v"]) for r in sample], dtype=np.float64)
    # train in the NORMALIZED space: the ADC scan ranks by dot, and
    # dot == cosine only on unit vectors — unnormalized norms dominate
    # the ranking and recall collapses (measured 0.38 at 10M before
    # normalization). Zero-norm rows are excluded by contract.
    norms = np.sqrt((X * X).sum(axis=1))
    X = X[norms > 0] / norms[norms > 0, None]
    if not len(X):
        return []  # all-degenerate sample: same contract as empty
    return _fit_pq_numpy(X, m, n_codes, iters)


def write_pq_index(
    vectors: DataFrame,
    path: str,
    codebooks: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Encode every vector as m uint8 codes (nearest per-subspace
    centroid) PACKED into one binary column — m bytes per vector, e.g.
    8 bytes for a 64-dim corpus: 32x smaller than float32. Writes
    ``<path>/codes`` (id, pq_bytes); codebooks persist via the caller
    (they are a driver-side list — save with save_pq_index).

    Encoding is one broadcast-numpy kernel per Arrow batch: m argmin
    matmul passes over (batch x n_codes) distance matrices. NULL
    vectors are excluded (the degenerate-vector contract)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType, StructField, StructType

    m = len(codebooks)
    id_type = vectors.schema[id_col].dataType
    if m == 0:
        # empty codebooks (trained on an empty corpus): write a
        # schema-only codes table so readers see the contract schema
        vectors.sparkSession.createDataFrame(
            [], StructType(
                [StructField(id_col, id_type), StructField("pq_bytes", BinaryType())]
            )
        ).write.mode("overwrite").parquet(f"{path}/codes")
        return
    bc = vectors.sparkSession.sparkContext.broadcast(
        [np.array(b, dtype=np.float64) for b in codebooks]
    )
    id_pd = (
        "int64" if id_type.typeName() in ("long", "integer", "short") else "object"
    )
    out_schema = StructType(
        [StructField(id_col, id_type), StructField("pq_bytes", BinaryType())]
    )
    src = vectors.select(F.col(id_col), _as_double(vec_col).alias("__v")).where(
        F.col("__v").isNotNull() & (l2_norm(F.col("__v")) > 0)
    )

    def encode(batches):
        books = bc.value
        sub = books[0].shape[1]
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {
                        id_col: pd.Series(dtype=id_pd),
                        "pq_bytes": pd.Series(dtype="object"),
                    }
                )
                continue
            V = np.array(pdf["__v"].tolist(), dtype=np.float64)
            V = V / np.sqrt((V * V).sum(axis=1))[:, None]
            codes = np.empty((len(V), m), dtype=np.uint8)
            for j, C in enumerate(books):
                Vs = V[:, j * sub : (j + 1) * sub]
                # ||v - c||^2 = ||v||^2 - 2 v.c + ||c||^2; argmin over
                # c drops the ||v||^2 term
                d2 = (C * C).sum(axis=1)[None, :] - 2.0 * (Vs @ C.T)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf.iloc[:, 0],
                    "pq_bytes": [row.tobytes() for row in codes],
                }
            )

    src.mapInPandas(encode, schema=out_schema).write.mode("overwrite").parquet(
        f"{path}/codes"
    )
    # the write is the action — the codebook broadcast is dead weight on
    # the executors after it completes (looped index builds would
    # otherwise accrete one block per call)
    bc.destroy()


def save_pq_index(spark: SparkSession, path: str, codebooks: list) -> None:
    """Persist the codebooks beside the codes as a tiny parquet."""
    rows = [
        (j, c, list(map(float, centroid)))
        for j, book in enumerate(codebooks)
        for c, centroid in enumerate(book)
    ]
    spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def load_pq_codebooks(spark: SparkSession, path: str) -> list:
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    if not rows:
        return []
    m = max(r["subspace"] for r in rows) + 1
    books: list = [dict() for _ in range(m)]
    for r in rows:
        books[r["subspace"]][r["code"]] = list(r["centroid"])
    return [[b[c] for c in sorted(b)] for b in books]


def _pq_load(spark: SparkSession, path: str):
    import numpy as np

    books = load_pq_codebooks(spark, path)
    return [np.array(b, dtype=np.float64) for b in books] or None


def _pq_prepare(books, Q, nprobe):
    # unit queries: PQ preserves dot products, not norms
    return _adc_luts(books, _unit_rows(Q))


def _pq_scores(luts, pdf):
    import numpy as np

    m = luts.shape[1]
    C = np.frombuffer(b"".join(pdf["pq_bytes"]), dtype=np.uint8).reshape(
        len(pdf), m
    )
    cols = np.arange(m)
    # per query: sum over subspaces of LUT[j, code_j]
    return np.stack([lut[cols[None, :], C].sum(axis=1) for lut in luts], axis=1)


_PQ = _Codec("pq_topk", "approx_dot", _pq_load, _pq_prepare, _pq_scores)


def pq_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    refine: int = 8,
    vectors: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int | None = 4,
    scope=None,
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over the PQ index:
    per query precompute an (m x n_codes) lookup table of subspace dot
    products LUT[j][c] = q_j · centroid_jc, then every corpus vector's
    approximate dot is m LUT gathers summed — no float vector is ever
    read. The codes table is m bytes/vector (32x smaller than float32
    at d=64/m=8), so at 100 TB the candidate scan reads ~3 TB instead.
    Approximate scores rank by DOT (PQ preserves dot products, not
    norms); the exact re-rank against the full-precision table
    re-scores the tiny candidate set with true cosine."""
    return _probe_codes(
        _PQ, spark, path, queries, k, refine, vectors, vec_col, id_col,
        query_vec_col, query_id_col, round_to, scope=scope,
    )


# ----------------------------- IVF x PQ composition (IVFPQ, X44)
def _fit_opq_numpy(X, m: int, n_codes: int, pq_iters: int, opq_iters: int):
    """OPQ-NP (Ge et al., "Optimized Product Quantization", CVPR 2013
    §4.2; the Faiss ``OPQx`` pre-transform): learn an orthogonal
    rotation ``O`` so the PQ subspace split cuts across the data's
    correlated directions. Alternating minimization on the driver-side
    sample: fix O → fit codebooks on ``X @ O``; fix codebooks →
    ``O = argmin ||X O - X̂||`` over orthogonal matrices, which is the
    orthogonal Procrustes problem with the closed-form SVD solution
    ``O = U Vᵀ`` of ``Xᵀ X̂``. Returns (O, codebooks) with codebooks
    fit on the FINAL rotation. Quantization error is non-increasing
    per iteration by construction (each half-step minimizes the same
    objective), so small ``opq_iters`` (5-10) suffice."""
    import numpy as np

    d = X.shape[1]
    sub = d // m
    O = np.eye(d)
    books = None
    for _ in range(max(1, opq_iters)):
        Y = X @ O
        books = _fit_pq_numpy(Y, m, n_codes, pq_iters)
        Yhat = np.empty_like(Y)
        for j, b in enumerate(books):
            B = np.array(b, dtype=np.float64)
            Ys = Y[:, j * sub : (j + 1) * sub]
            d2 = (B * B).sum(axis=1)[None, :] - 2.0 * (Ys @ B.T)
            Yhat[:, j * sub : (j + 1) * sub] = B[d2.argmin(axis=1)]
        U, _, Vt = np.linalg.svd(X.T @ Yhat)
        O = U @ Vt
    return O, _fit_pq_numpy(X @ O, m, n_codes, pq_iters)


def train_ivfpq(
    vectors: DataFrame,
    n_clusters: int = 16,
    m: int = 8,
    n_codes: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_rows: int = 100_000,
    kmeans_iters: int = 3,
    pq_iters: int = 10,
    seed: int = 42,
    opq_iters: int = 0,
):
    """Train the full IVFPQ model (Jégou et al. 2011 §V; the Faiss
    ``IVFx,PQy`` production index): coarse spherical-k-means centroids
    for routing, then ONE shared PQ codebook set fit on coarse
    RESIDUALS ``r = v - c(v)`` rather than raw vectors. Residuals
    matter WHEN THE DATA CLUSTERS: the residual distribution is then
    tighter than the raw one and the same code budget (m bytes)
    quantizes it with lower error. Measured, not cited (BASELINE §5p
    + round-8 addendum, 10M vectors, equal m=16/refine=32): on a
    clustered fixture IVFPQ recall 0.925 beats flat PQ's 0.805 while
    reading 1/32 of the code bytes; on the near-uniform fixture the
    ordering REVERSES (0.91 vs 0.95 — residuals keep ~full norm and
    the coarse step buys nothing). Serving corpora of real embeddings
    sit in the clustered regime.

    Coarse training is the distributed :func:`kmeans_centroids` pass
    (O(partitions*k*dim) shuffle bytes); residual PQ training is
    driver-side numpy over the same hash-filtered, layout-invariant
    ~``sample_rows`` sample :func:`train_pq_codebooks` uses (Faiss
    trains on samples too), coarse-assigned and residualized with two
    matmuls. Returns (centroids, codebooks) — the driver holds
    (n_clusters + m*n_codes/m) * dim floats total.

    ``opq_iters > 0`` (X54): also learn an orthogonal RESIDUAL
    rotation via :func:`_fit_opq_numpy` (Ge et al. 2013; Faiss
    ``OPQx,IVFy,PQz``) and return a 3-TUPLE (centroids, codebooks,
    rotation) — codes are then fit on ``residual @ O``, the encode and
    probe kernels rotate symmetrically, and the exhaustive-regime
    results are identical to the unrotated index (the re-rank is
    exact; rotation only moves the operating curve). Opt-in keeps the
    2-tuple API and every existing artifact layout unchanged."""
    import numpy as np

    centroids = kmeans_centroids(vectors, n_clusters, vec_col, id_col, kmeans_iters)
    if not centroids:
        return ([], [], None) if opq_iters > 0 else ([], [])
    sample = _hash_sample_rows(vectors, vec_col, sample_rows, seed)
    X = np.array([list(r["__v"]) for r in sample], dtype=np.float64)
    norms = np.sqrt((X * X).sum(axis=1))
    X = X[norms > 0] / norms[norms > 0, None]
    if not len(X):
        return (centroids, [], None) if opq_iters > 0 else (centroids, [])
    C = np.array(centroids, dtype=np.float64)
    R = X - C[np.argmax(X @ C.T, axis=1)]
    if opq_iters > 0:
        O, books = _fit_opq_numpy(R, m, n_codes, pq_iters, opq_iters)
        return centroids, books, [list(map(float, row)) for row in O]
    return centroids, _fit_pq_numpy(R, m, n_codes, pq_iters)


def write_ivfpq_index(
    vectors: DataFrame,
    path: str,
    centroids: list[list[float]],
    codebooks: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    colocate: bool = True,
    rotation: list | None = None,
) -> None:
    """Persist the IVFPQ index: ``<path>/codes`` (id, pq_bytes — m
    packed uint8 residual codes) PARTITIONED BY cluster_id, plus
    centroid/codebook parquet sidecars. Probe-time cluster filters
    become parquet partition pruning, so a query touches only its
    ``nprobe`` clusters' files — the codes table is m bytes/vector
    (32x smaller than float32 at d=64/m=8) and the probed fraction is
    ~nprobe/n_clusters of THAT: the 10^10-vector serving shape.

    One broadcast-numpy kernel per Arrow batch does assign + residual
    + m argmin-GEMM encodes; NULL/zero-norm vectors are excluded (the
    degenerate-vector contract — no direction, no cluster).
    ``colocate`` repartitions on cluster_id first: without it a
    dynamic-partition write from T tasks emits up to T x k small files
    (save_ivf_index's 10k-file lesson)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        StructField,
        StructType,
    )

    spark = vectors.sparkSession
    id_type = vectors.schema[id_col].dataType
    m = len(codebooks)
    if not centroids or m == 0:
        # no partitionBy here: a ZERO-row dynamic-partition write emits
        # no part files at all, and a later read can't infer the schema
        # — the unpartitioned empty write keeps a schema-bearing footer
        spark.createDataFrame(
            [],
            StructType(
                [
                    StructField(id_col, id_type),
                    StructField("pq_bytes", BinaryType()),
                    StructField("cluster_id", IntegerType()),
                ]
            ),
        ).write.mode("overwrite").parquet(f"{path}/codes")
        _save_ivfpq_meta(spark, path, centroids, codebooks, rotation)
        return
    _ivfpq_encode_write(
        vectors, path, centroids, codebooks, vec_col, id_col, colocate,
        mode="overwrite", rotation=rotation,
    )
    _save_ivfpq_meta(spark, path, centroids, codebooks, rotation)


def _ivfpq_encoded(
    vectors: DataFrame,
    centroids: list,
    codebooks: list,
    vec_col: str,
    id_col: str,
    rotation: list | None = None,
):
    """The IVFPQ assign+residual+encode kernel shared by the batch
    build, the incremental append, and the streaming maintainer:
    encode ``vectors`` against a FIXED coarse book + codebooks (+ the
    optional frozen OPQ ``rotation`` — residuals encode as
    ``r @ O``; the probe rotates the query side symmetrically).
    Returns (encoded_df, broadcast_handle) — the caller writes the
    frame (an action) and then destroys the broadcast."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        StructField,
        StructType,
    )

    spark = vectors.sparkSession
    id_type = vectors.schema[id_col].dataType
    m = len(codebooks)
    bc = spark.sparkContext.broadcast(
        (
            np.array(centroids, dtype=np.float64),
            [np.array(b, dtype=np.float64) for b in codebooks],
            None if rotation is None else np.array(rotation, dtype=np.float64),
        )
    )
    id_pd = (
        "int64" if id_type.typeName() in ("long", "integer", "short") else "object"
    )
    out_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("pq_bytes", BinaryType()),
            StructField("cluster_id", IntegerType()),
        ]
    )
    # l2_normalize is NULL for NULL/zero-norm rows; drop map-side so the
    # numpy batch never goes ragged (the round-6 defect class)
    src = vectors.select(
        F.col(id_col), l2_normalize(_as_double(vec_col)).alias("__v")
    ).where(F.col("__v").isNotNull())

    def encode(batches):
        C, books, O = bc.value
        sub = books[0].shape[1]
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {
                        id_col: pd.Series(dtype=id_pd),
                        "pq_bytes": pd.Series(dtype="object"),
                        "cluster_id": pd.Series(dtype="int32"),
                    }
                )
                continue
            V = np.array(pdf["__v"].tolist(), dtype=np.float64)
            assign = np.argmax(V @ C.T, axis=1)
            R = V - C[assign]
            if O is not None:
                R = R @ O
            codes = np.empty((len(V), m), dtype=np.uint8)
            for j, B in enumerate(books):
                Rs = R[:, j * sub : (j + 1) * sub]
                d2 = (B * B).sum(axis=1)[None, :] - 2.0 * (Rs @ B.T)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf.iloc[:, 0],
                    "pq_bytes": [row.tobytes() for row in codes],
                    "cluster_id": assign.astype("int32"),
                }
            )

    return src.mapInPandas(encode, schema=out_schema), bc


def _ivfpq_encode_write(
    vectors: DataFrame,
    path: str,
    centroids: list,
    codebooks: list,
    vec_col: str,
    id_col: str,
    colocate: bool,
    mode: str,
    rotation: list | None = None,
) -> None:
    """Encode and write packed residual codes partitioned by
    cluster_id — :func:`write_ivfpq_index` (mode="overwrite") and
    :func:`append_ivfpq_index` (mode="append")."""
    encoded, bc = _ivfpq_encoded(
        vectors, centroids, codebooks, vec_col, id_col, rotation=rotation
    )
    if colocate:
        encoded = encoded.repartition("cluster_id")
    encoded.write.mode(mode).partitionBy("cluster_id").parquet(
        f"{path}/codes"
    )
    # the write above is an action — the broadcast is done; release the
    # executor/driver blocks instead of leaking one per index build
    bc.destroy()


def append_ivfpq_index(
    vectors: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    colocate: bool = True,
) -> None:
    """Incrementally add ``vectors`` to a persisted IVFPQ index — the
    Faiss add-after-train contract: the coarse book and PQ codebooks
    at ``path`` are train-time artifacts and stay FROZEN; new vectors
    assign + residual-encode against them and their codes APPEND into
    the cluster_id partition layout (dynamic-partition append touches
    only the probed clusters' directories, never existing files). At
    10^10 vectors this writes m bytes per NEW vector instead of
    re-encoding the corpus.

    Contracts: (1) the books don't learn from appended data — recall
    over the appended region follows the build-time books, so rebuild
    when the distribution drifts (README decision table, freshness
    column); (2) id uniqueness is the caller's, as with any lakehouse
    append. Parity: q129 — retrieval over build(A)+append(B) is
    row-identical to brute over A∪B in the exhaustive-probe regime."""
    spark = vectors.sparkSession
    centroids, codebooks = load_ivfpq_meta(spark, path)
    if not centroids or not codebooks:
        raise ValueError(
            "cannot append to an empty-built IVFPQ index (no trained "
            "coarse book / codebooks to encode against) — rebuild with "
            "train_ivfpq + write_ivfpq_index"
        )
    _ivfpq_encode_write(
        vectors, path, centroids, codebooks, vec_col, id_col, colocate,
        mode="append", rotation=load_ivfpq_rotation(spark, path),
    )


def _save_ivfpq_rotation(
    spark: SparkSession, path: str, rotation: list | None
) -> None:
    """Persist (or, for ``None``, REMOVE) the optional OPQ rotation
    artifact — the one layout definition shared by builds and artifact
    copies. Removal on None matters: an overwrite-rebuild of a path
    that previously held an OPQ index would otherwise leave the stale
    rotation in place, and probes would rotate the query LUT against
    unrotated codes — silently wrong scores, no error (round-10 review
    catch)."""
    from kfai_pipeline_spark.streaming.rollup import _hadoop_path

    if rotation is None:
        fs, p, _ = _hadoop_path(spark, f"{path}/rotation")
        if fs.exists(p):
            fs.delete(p, True)
        return
    spark.createDataFrame(
        [(i, list(map(float, row))) for i, row in enumerate(rotation)],
        "dim int, row array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/rotation")


def _save_ivfpq_meta(
    spark: SparkSession, path: str, centroids: list, codebooks: list,
    rotation: list | None = None,
) -> None:
    spark.createDataFrame(
        [(i, list(map(float, c))) for i, c in enumerate(centroids)],
        "cluster_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    save_pq_index(spark, path, codebooks)
    _save_ivfpq_rotation(spark, path, rotation)


def load_ivfpq_rotation(spark: SparkSession, path: str):
    """The optional OPQ residual rotation (``<path>/rotation``,
    written only by opq-trained builds) as a d x d nested float list,
    or None for every pre-OPQ / unrotated index. Absence is detected
    by an explicit FS existence probe — NEVER by swallowing read
    exceptions: a transient failure reading an EXISTING rotation must
    raise, because encoding a batch of an OPQ index without its
    rotation would land permanently-garbage codes with no error
    anywhere (round-10 review catch). The exists() probe also keeps
    the common unrotated case to one cheap FS call instead of a
    parquet read attempt on the serving hot path."""
    from kfai_pipeline_spark.streaming.rollup import _hadoop_path

    fs, p, _ = _hadoop_path(spark, f"{path}/rotation")
    if not fs.exists(p):
        return None
    rows = spark.read.parquet(f"{path}/rotation").collect()
    return [list(r["row"]) for r in sorted(rows, key=lambda r: r["dim"])]


def load_ivfpq_meta(
    spark: SparkSession, path: str
) -> tuple[list[list[float]], list]:
    rows = spark.read.parquet(f"{path}/centroids").collect()
    centroids = [
        list(r["centroid"])
        for r in sorted(rows, key=lambda r: r["cluster_id"])
    ]
    return centroids, load_pq_codebooks(spark, path)


def _ivfpq_load(spark: SparkSession, path: str):
    import numpy as np

    centroids, codebooks = load_ivfpq_meta(spark, path)
    if not centroids or not codebooks:
        return None
    rot = load_ivfpq_rotation(spark, path)
    return (
        np.array(centroids, dtype=np.float64),
        [np.array(b, dtype=np.float64) for b in codebooks],
        None if rot is None else np.array(rot, dtype=np.float64),
    )


def _ivfpq_prepare(arts, Q, nprobe):
    import numpy as np

    C, books, rot = arts
    Q = _unit_rows(Q)
    qc = Q @ C.T  # q x k_clusters: the per-cluster constant terms
    # stable argsort matches the assignment argmax's low-id tie-break
    probes = np.argsort(-qc, axis=1, kind="stable")[:, : min(nprobe, len(C))]
    # OPQ (X54): codes hold ŷ ≈ r @ O, so dot(q, r̂) = dot(q O, ŷ) —
    # rotate the LUT's query side; routing (qc) stays unrotated since
    # the rotation applies to residuals only
    Qr = Q if rot is None else Q @ rot
    return _adc_luts(books, Qr), qc, [np.unique(row) for row in probes]


def _ivfpq_prune(codes_df: DataFrame, payload) -> DataFrame:
    # cluster_id is a PARTITION column: this filter prunes to the
    # probed clusters' files before a byte is read
    probed = sorted({int(c) for row in payload[2] for c in row})
    return codes_df.where(F.col("cluster_id").isin(probed))


def _ivfpq_scores(payload, pdf):
    import numpy as np

    luts, qc, probe_sets = payload
    m = luts.shape[1]
    C = np.frombuffer(b"".join(pdf["pq_bytes"]), dtype=np.uint8).reshape(
        len(pdf), m
    )
    cl = pdf["cluster_id"].to_numpy()
    cols = np.arange(m)
    S = np.full((len(pdf), len(luts)), -np.inf)
    for qi, lut in enumerate(luts):
        # colocated layout => a batch is usually ONE cluster; the mask
        # is exact either way (unprobed clusters stay -inf)
        sel = np.nonzero(np.isin(cl, probe_sets[qi]))[0]
        S[sel, qi] = qc[qi, cl[sel]] + lut[cols[None, :], C[sel]].sum(axis=1)
    return S


_IVFPQ = _Codec(
    "ivfpq_topk", "approx_dot", _ivfpq_load, _ivfpq_prepare, _ivfpq_scores,
    _ivfpq_prune,
)


def ivfpq_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    nprobe: int = 4,
    refine: int = 8,
    vectors: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int | None = 4,
    scope=None,
) -> DataFrame:
    """Probe a persisted IVFPQ index: route each query to its
    ``nprobe`` nearest coarse centroids (driver-side numpy — q x k
    dots), scan ONLY those clusters' packed residual codes with the
    ADC identity ``dot(q, v̂) = q·c + Σ_j LUT[j][code_j]`` (the LUT is
    built once per query; the q·c term is per probed cluster), keep
    top ``k*refine`` per query, then exact-rerank against the
    full-precision table when ``vectors`` is given.

    Scale shape — this is the 10^10-vector serving plan: the cluster
    filter prunes at the parquet PARTITION level (only ~nprobe/k_c of
    the files are opened) and the pruned scan reads m bytes/vector.
    Neither a flat SQ8 scan (linear in corpus bytes) nor
    IVF-with-float-codes (25x the bandwidth at d=64/m=8) survives at
    that scale; IVFPQ reads ~(nprobe/k_c) x (m/4d) of the float
    bytes."""
    return _probe_codes(
        _IVFPQ, spark, path, queries, k, refine, vectors, vec_col, id_col,
        query_vec_col, query_id_col, round_to, scope=scope, nprobe=nprobe,
    )
