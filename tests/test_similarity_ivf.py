"""ANN tiers (operators/similarity.py): IVF routing (kmeans_centroids /
assign_clusters), the BLAS arm, and the quantized probe family (SQ8,
PQ, IVFPQ) with their persisted-index contracts.

Registry queries q76, q110-q113, q121 and q125-q137 run these tiers
against DuckDB oracles (q111-q113 have none; tests here compare them
with exact arms); these tests cover the approximate regimes and the
index invariants."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from conftest import SF_ORACLE
from kfai_pipeline_spark.catalog import load_table
from kfai_pipeline_spark.operators import similarity as S


def _corpus_queries(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    return corpus, queries


def test_centroids_deterministic_and_unit_norm(spark):
    corpus, _ = _corpus_queries(spark)
    c1 = S.kmeans_centroids(corpus, n_clusters=4, iters=2)
    c2 = S.kmeans_centroids(corpus, n_clusters=4, iters=2)
    assert c1 == c2, "same input must give identical centroids (no RNG)"
    for c in c1:
        assert math.isclose(math.sqrt(sum(x * x for x in c)), 1.0, rel_tol=1e-9)


def test_index_covers_corpus_with_valid_clusters(spark):
    """assign_clusters labels every row with a valid cluster id, and a
    scope captures its centroid broadcast for deterministic release."""
    from kfai_pipeline_spark.operators.dedup import CacheScope

    corpus, _ = _corpus_queries(spark)
    cents = S.kmeans_centroids(corpus, n_clusters=4, iters=2)
    scope = CacheScope()
    idx = S.assign_clusters(corpus, cents, "embedding", scope=scope)
    n = corpus.count()
    assert idx.count() == n, "every vector lands in exactly one cluster"
    bad = idx.where((F.col("cluster_id") < 0) | (F.col("cluster_id") >= 4)).count()
    assert bad == 0
    assert len(scope._bcs) == 1
    scope.release()
    assert not scope._bcs


def test_plan_size_flat_in_centroid_count(spark):
    """The assignment plan must hold ZERO centroid literals: a
    production IVF (k~4096, dim~1024) is a broadcast variable, not
    millions of expression nodes. Guard: the formatted plan for k=1024
    centroids is the same size as for k=8 (same operators, same
    expressions — only the broadcast payload differs)."""
    import contextlib
    import io

    corpus, _ = _corpus_queries(spark)
    dim = 64

    def plan_chars(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return len(buf.getvalue())

    def fake_centroids(k):
        return [[1.0 if i % dim == j else 0.0 for j in range(dim)] for i in range(k)]

    small = plan_chars(S.assign_clusters(corpus, fake_centroids(8), "embedding"))
    big = plan_chars(S.assign_clusters(corpus, fake_centroids(1024), "embedding"))
    assert big < small * 1.3 + 200, f"assignment plan grows with k: {small} -> {big}"


def test_blas_arm_equals_jvm_arm(spark):
    """cosine_topk_blas must return EXACTLY the JVM arm's rows — same
    scores (both double-precision), same (score desc, id asc) tie-break,
    across a multi-query batch."""
    from pyspark.sql import functions as F

    from kfai_pipeline_spark.catalog import load_table
    from kfai_pipeline_spark.operators.similarity import cosine_topk, cosine_topk_blas

    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") < 20).selectExpr(
        "vec_id as query_id", "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 20)
    a = sorted(map(tuple, cosine_topk(corpus, queries, k=7).collect()))
    b = sorted(map(tuple, cosine_topk_blas(corpus, queries, k=7).collect()))
    assert a == b and len(a) == 20 * 7


# ------------------------------ int8 scalar quantization (X42, q110)
def test_quantize_int8_codes_are_exact_and_layout_invariant(spark):
    from kfai_pipeline_spark.catalog import load_table
    from kfai_pipeline_spark.operators.similarity import (
        quantization_stats,
        quantize_int8,
    )

    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    st = quantization_stats(emb)
    a = {r.vec_id: r.codes for r in quantize_int8(emb, st).collect()}
    b = {
        r.vec_id: r.codes
        for r in quantize_int8(emb.repartition(7, "vec_id"), st).collect()
    }
    assert a == b
    assert all(0 <= c <= 255 for codes in a.values() for c in codes)


def test_quantized_topk_matches_exact_at_full_refine(spark):
    """With refine covering the whole corpus the candidate stage cannot
    drop anything, so the re-ranked top-k must EQUAL the exact
    brute-force top-k (ids and scores)."""
    from pyspark.sql import functions as F

    from kfai_pipeline_spark.catalog import load_table
    from kfai_pipeline_spark.operators.similarity import (
        cosine_topk,
        quantized_topk,
    )

    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") != 0)
    n = corpus.count()
    qt = quantized_topk(corpus, q, k=5, refine=n)
    ex = cosine_topk(corpus, q, k=5, round_to=4)
    assert [(r.vec_id, r.score) for r in qt.collect()] == [
        (r.vec_id, r.score) for r in ex.collect()
    ]


def test_quantization_error_is_bounded(spark):
    """SQ8 reconstruction error per dim <= (mx-mn)/255/2; on unit-ish
    vectors the approx cosine should sit within a few 1e-3 of exact."""
    from pyspark.sql import functions as F

    from kfai_pipeline_spark.catalog import load_table
    from kfai_pipeline_spark.operators.similarity import quantized_topk

    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") != 0)
    rows = quantized_topk(corpus, q, k=10, refine=4).collect()
    assert rows and all(abs(r.approx_score - r.score) < 0.01 for r in rows)


def test_q111_index_roundtrip_equals_q110_expression_arm(spark):
    """The rows-only q111 (persisted packed-byte index + kernel scan)
    must produce exactly the q110 expression arm's output — the
    hash-checked-twin contract for the production path."""
    from kfai_pipeline_spark.queries import REGISTRY

    from tests.conftest import SF_ORACLE

    a = [
        (r.vec_id, r.approx_score, r.score)
        for r in REGISTRY["q111_sq8_index"].build(spark, SF_ORACLE).collect()
    ]
    b = [
        (r.vec_id, r.approx_score, r.score)
        for r in REGISTRY["q110_quantized_ann"].build(spark, SF_ORACLE).collect()
    ]
    assert a == b and len(a) == 10


def test_sq8_arms_agree_on_string_ids_and_zero_norm_vectors(spark):
    """Review-pass contracts: (a) both quantization arms accept
    non-long ids; (b) zero-norm vectors are EXCLUDED by both arms
    (NULL cosine in the expression arm, non-finite mask in the
    kernel), so the twins stay identical on degenerate inputs."""
    import tempfile

    from pyspark.sql import functions as F

    from kfai_pipeline_spark.operators.similarity import (
        quantized_topk,
        sq8_topk,
        write_sq8_index,
    )

    rows = [("d%02d" % i, [float((i * 7 + j) % 5) for j in range(8)])
            for i in range(1, 30)]
    rows.append(("zz_zero", [0.0] * 8))  # zero-norm: must never rank
    # NULL embedding: must be EXCLUDED by write_sq8_index (a None in
    # the pack kernel's batch would go ragged and crash np.array) —
    # round-7 advice fix
    rows.append(("zz_null", None))
    corpus = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    q = spark.createDataFrame(
        [("q0", [1.0, 2.0, 3.0, 4.0, 0.0, 1.0, 2.0, 3.0])],
        ["query_id", "embedding"],
    )
    a = quantized_topk(corpus, q, k=5, refine=6)
    with tempfile.TemporaryDirectory() as tmp:
        write_sq8_index(corpus, f"{tmp}/idx")
        b = sq8_topk(spark, f"{tmp}/idx", q, k=5, refine=6, vectors=corpus)
        got_a = [(r.vec_id, r.approx_score, r.score) for r in a.collect()]
        got_b = [(r.vec_id, r.approx_score, r.score) for r in b.collect()]
    assert got_a == got_b and len(got_a) == 5
    assert all(v not in ("zz_zero", "zz_null") for v, _, _ in got_a)


def test_degenerate_vectors_never_rank_or_assign(spark):
    """Round-6 degenerate-vector contract: NULL embeddings drop
    map-side in the BLAS arm (a ragged numpy batch would crash the
    kernel) and zero-norm vectors are unassignable (NULL cluster) and
    never rank — DuckDB's list_cosine_similarity returns -1.0 for a
    zero vector, so the contract must be explicit, not accidental."""
    from pyspark.sql import functions as F

    from kfai_pipeline_spark.operators.similarity import (
        assign_clusters,
        cosine_topk_blas,
    )

    rows = [(i, [float((i + j) % 5 + 1) for j in range(4)]) for i in range(10)]
    rows += [(90, None), (91, [0.0, 0.0, 0.0, 0.0])]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    top = [r.vec_id for r in cosine_topk_blas(vecs, q, k=12).collect()]
    assert 90 not in top and 91 not in top and len(top) == 10
    cl = {
        r.vec_id: r.cluster_id
        for r in assign_clusters(
            vecs, [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]], "embedding"
        ).collect()
    }
    assert cl[90] is None and cl[91] is None
    assert all(cl[i] is not None for i in range(10))


# ------------------------------ product quantization (X43, q112)
def test_pq_roundtrip_recall_and_determinism(spark, tmp_path):
    from pyspark.sql import functions as F

    from kfai_pipeline_spark.catalog import load_table
    from kfai_pipeline_spark.operators import similarity as S

    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") != 0)
    books = S.train_pq_codebooks(corpus, m=8, n_codes=32)
    books2 = S.train_pq_codebooks(corpus.repartition(7), m=8, n_codes=32)
    assert books == books2  # hash-ordered sample: layout-invariant
    idx = str(tmp_path / "pq")
    S.write_pq_index(corpus, idx, books)
    S.save_pq_index(spark, idx, books)
    assert S.load_pq_codebooks(spark, idx) == books
    got = {r.vec_id for r in S.pq_topk(spark, idx, q, k=5, refine=8,
                                       vectors=corpus).collect()}
    exact = {r.vec_id for r in S.cosine_topk(corpus, q, k=5).collect()}
    # near-uniform synthetic vectors are a PQ-hostile case (weak
    # neighbor structure, high quantization error) — the recall floor
    # here is a smoke bound; the HARD contract is the full-refine
    # equality test below and the 10M operating curve (BASELINE §5n)
    assert len(got & exact) >= 3


def test_pq_full_refine_equals_exact(spark, tmp_path):
    """With the candidate cut covering the whole corpus, the exact
    re-rank must EQUAL brute-force top-k (ids and scores) — the PQ
    stage can then only reorder candidates, never drop one."""
    from pyspark.sql import functions as F

    from kfai_pipeline_spark.catalog import load_table
    from kfai_pipeline_spark.operators import similarity as S

    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") != 0)
    n = corpus.count()
    books = S.train_pq_codebooks(corpus, m=8, n_codes=32)
    idx = str(tmp_path / "pq")
    S.write_pq_index(corpus, idx, books)
    S.save_pq_index(spark, idx, books)
    got = [(r.vec_id, r.score) for r in S.pq_topk(
        spark, idx, q, k=5, refine=n, vectors=corpus).collect()]
    exact = [(r.vec_id, r.score) for r in S.cosine_topk(
        corpus, q, k=5, round_to=4).collect()]
    assert got == exact


def test_blas_and_pq_tolerate_degenerate_queries(spark, tmp_path):
    """Review pass: a NULL/zero-norm QUERY row must be skipped, not
    crash the driver collect (blas) — and an all-degenerate corpus
    trains an empty PQ codebook, same contract as empty."""
    from pyspark.sql import functions as F

    from kfai_pipeline_spark.operators import similarity as S

    corpus = spark.createDataFrame(
        [(i, [float((i + j) % 5 + 1) for j in range(4)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, None), (2, [0.0, 0.0, 0.0, 0.0])],
        "query_id long, embedding array<double>",
    )
    out = S.cosine_topk_blas(corpus, qs, k=3).collect()
    assert {r.query_id for r in out} == {0} and len(out) == 3
    zeros = spark.createDataFrame(
        [(i, [0.0, 0.0, 0.0, 0.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    assert S.train_pq_codebooks(zeros, m=2) == []
    assert S.train_pq_codebooks(zeros.where("vec_id < 0"), m=2) == []


# ------------------------------ IVF x PQ composition (X44, q113)
def test_ivfpq_full_probe_full_refine_equals_exact(spark, tmp_path):
    """nprobe == n_clusters and a candidate cut covering the whole
    corpus: the exact re-rank must EQUAL brute-force top-k (ids AND
    scores) — routing and ADC can then only reorder candidates, never
    drop one. This is q113's hash-checked-twin contract."""
    corpus, queries = _corpus_queries(spark)
    n = corpus.count()
    cents, books = S.train_ivfpq(corpus, n_clusters=8, m=8, n_codes=32)
    idx = str(tmp_path / "ivfpq")
    S.write_ivfpq_index(corpus, idx, cents, books)
    got = [
        (r.query_id, r.vec_id, r.score)
        for r in S.ivfpq_topk(
            spark, idx, queries, k=5, nprobe=8, refine=n, vectors=corpus
        ).collect()
    ]
    exact = [
        (r.query_id, r.vec_id, r.score)
        for r in S.cosine_topk(corpus, queries, k=5, round_to=4).collect()
    ]
    assert sorted(got) == sorted(exact) and len(got) == 25


def test_ivfpq_partial_probe_recall_and_pruning(spark, tmp_path):
    """Partial probe: (a) recall grows with nprobe; (b) the codes scan
    PRUNES at the parquet partition level (PartitionFilters on
    cluster_id in the formatted plan); (c) every hit comes from a
    probed cluster."""
    import contextlib
    import io

    corpus, queries = _corpus_queries(spark)
    cents, books = S.train_ivfpq(corpus, n_clusters=8, m=8, n_codes=32)
    idx = str(tmp_path / "ivfpq")
    S.write_ivfpq_index(corpus, idx, cents, books)
    exact = {
        (r.query_id, r.vec_id)
        for r in S.cosine_topk(corpus, queries, k=10).collect()
    }

    def recall(nprobe):
        got = {
            (r.query_id, r.vec_id)
            for r in S.ivfpq_topk(
                spark, idx, queries, k=10, nprobe=nprobe, refine=8,
                vectors=corpus,
            ).collect()
        }
        return len(got & exact) / len(exact)

    r2, r8 = recall(2), recall(8)
    assert r2 <= r8, f"recall not monotone: {r2} {r8}"
    # near-uniform random fixture vectors are the PQ-hostile case (weak
    # neighbor structure — same note as test_pq_roundtrip): the smoke
    # bar is "ADC ranking is informative" (full-probe refine=8 scans 80
    # of ~495 candidates = 0.16 mass; measured stable recall 0.72).
    # The HARD contract is the full-refine equality test above.
    assert r8 >= 0.5, f"full-probe refine=8 recall too low: {r8}"
    # pruning: the pruned scan's plan must carry a cluster_id
    # PartitionFilter (partition-level file skip, not a row filter)
    out = S.ivfpq_topk(spark, idx, queries, k=5, nprobe=2, refine=4)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cluster_id" in plan
    # membership: with nprobe=1 each query's hits sit in ONE cluster
    idx_df = spark.read.parquet(f"{idx}/codes")
    cluster_of = {r.vec_id: r.cluster_id for r in idx_df.collect()}
    got1 = S.ivfpq_topk(spark, idx, queries, k=5, nprobe=1, refine=4).collect()
    by_q: dict = {}
    for r in got1:
        by_q.setdefault(r.query_id, set()).add(cluster_of[r.vec_id])
    for qid, cls in by_q.items():
        assert len(cls) == 1, f"query {qid} hit clusters {cls}"


def test_ivfpq_training_layout_invariant_and_residual(spark):
    """Training must be layout-invariant (hash-filtered sample), and
    the codebooks must be RESIDUAL codebooks — centroids of residuals
    cluster near zero, far smaller in norm than unit vectors."""
    import math as _m

    import numpy as np

    corpus, _ = _corpus_queries(spark)
    a = S.train_ivfpq(corpus, n_clusters=4, m=4, n_codes=16)
    a2 = S.train_ivfpq(corpus, n_clusters=4, m=4, n_codes=16)
    assert a == a2, "same layout must give bit-identical models (no RNG)"
    # across layouts the coarse k-means partial-sum fold reassociates
    # floats (distributed SUM order follows partitioning), so centroids
    # agree only to ~1e-12 — the PQ sample itself is hash-filtered and
    # layout-invariant, so the model is numerically (not bit-) stable
    b = S.train_ivfpq(corpus.repartition(7), n_clusters=4, m=4, n_codes=16)
    assert np.allclose(np.array(a[0]), np.array(b[0]), atol=1e-9)
    for ba, bb in zip(a[1], b[1]):
        assert np.allclose(np.array(ba), np.array(bb), atol=1e-6)
    cents, books = a
    # residual codebook centroids must be smaller than raw unit-vector
    # subvectors (1/sqrt(m) = 0.5 at m=4). Near-uniform fixture data
    # with only 4 coarse clusters keeps most of the norm in the
    # residual (measured 0.44) — clustered production data shrinks it
    # far more; the contract here is "residualization happened at all"
    mean_norm = sum(
        _m.sqrt(sum(x * x for x in c)) for book in books for c in book
    ) / sum(len(book) for book in books)
    assert mean_norm < 0.5 / _m.sqrt(1.0), f"codebooks look non-residual: {mean_norm}"


def test_ivfpq_empty_and_degenerate_contracts(spark, tmp_path):
    """Empty corpus trains an empty model and writes a schema-bearing
    empty index; NULL / zero-norm corpus rows are excluded at encode.
    The probe side of both contracts is test_probe_contracts."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    cents, books = S.train_ivfpq(empty, n_clusters=4, m=2)
    assert cents == [] and books == []
    idx = str(tmp_path / "ivfpq_empty")
    S.write_ivfpq_index(empty, idx, cents, books)
    codes = spark.read.parquet(f"{idx}/codes")
    assert codes.columns == ["vec_id", "pq_bytes", "cluster_id"]
    assert codes.collect() == []
    # degenerate corpus rows dropped at encode time
    rows = [(i, [float((i + j) % 5 + 1) for j in range(8)]) for i in range(20)]
    rows += [(90, None), (91, [0.0] * 8)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents, books = S.train_ivfpq(corpus, n_clusters=2, m=4, n_codes=8)
    idx2 = str(tmp_path / "ivfpq_degen")
    S.write_ivfpq_index(corpus, idx2, cents, books)
    stored = {r.vec_id for r in spark.read.parquet(f"{idx2}/codes").collect()}
    assert 90 not in stored and 91 not in stored and len(stored) == 20


def _build_index(spark, kind, vectors, path):
    if kind == "sq8":
        S.write_sq8_index(vectors, path)
    elif kind == "pq":
        books = S.train_pq_codebooks(vectors, m=4, n_codes=8)
        S.write_pq_index(vectors, path, books)
        S.save_pq_index(spark, path, books)
    else:
        cents, books = S.train_ivfpq(vectors, n_clusters=2, m=4, n_codes=8)
        S.write_ivfpq_index(vectors, path, cents, books)


@pytest.mark.parametrize("kind", ["sq8", "pq", "ivfpq"])
def test_probe_contracts(spark, tmp_path, kind):
    """The probe contract every persisted index kind shares: an
    empty-built index probes to no rows with the contract columns;
    NULL and zero-norm query rows produce no rows; without ``vectors``
    the probe returns only (query_id, id, approx); with them, the
    caller's query plan still runs only once."""
    probe = {"sq8": S.sq8_topk, "pq": S.pq_topk, "ivfpq": S.ivfpq_topk}[kind]
    approx = "approx_score" if kind == "sq8" else "approx_dot"
    schema = "vec_id long, embedding array<double>"
    empty = spark.createDataFrame([], schema)
    corpus = spark.createDataFrame(
        [(i, [float((i + j) % 5 + 1) for j in range(8)]) for i in range(20)],
        schema,
    )
    q = spark.createDataFrame(
        [(0, [1.0] * 8), (1, None), (2, [0.0] * 8)],
        "query_id long, embedding array<double>",
    )

    _build_index(spark, kind, empty, str(tmp_path / "empty"))
    out = probe(spark, str(tmp_path / "empty"), q, k=5, vectors=empty)
    assert out.collect() == []
    assert out.columns == ["query_id", "vec_id", approx, "score"]

    idx = str(tmp_path / "idx")
    _build_index(spark, kind, corpus, idx)
    degenerate = q.where("query_id > 0")
    assert probe(spark, idx, degenerate, k=5, vectors=corpus).collect() == []
    got = probe(spark, idx, q, k=5, refine=20, vectors=corpus).collect()
    assert len(got) == 5 and {r.query_id for r in got} == {0}

    bare = probe(spark, idx, q, k=5, refine=20)
    assert bare.columns == ["query_id", "vec_id", approx]
    rows = bare.collect()
    assert len(rows) == 20 and {r.query_id for r in rows} == {0}

    # the caller's query plan runs once: the exact re-rank reads the
    # block the probe collected, not a second run of ``queries``
    runs = spark.sparkContext.accumulator(0)

    @F.udf("array<double>")
    def counted(v):
        runs.add(1)
        return v

    counted_q = q.withColumn("embedding", counted("embedding"))
    got = probe(spark, idx, counted_q, k=5, refine=20, vectors=corpus).collect()
    assert len(got) == 5
    assert runs.value == q.count()


def test_ann_query_collect_size_guard(spark, monkeypatch):
    """The ANN entry points warn (ResourceWarning) when the collected
    query side exceeds the query-batch contract size — mirroring the
    skip-list control-metadata guard."""
    import warnings

    from kfai_pipeline_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "_QUERY_COLLECT_WARN_ABOVE", 5)
    corpus = spark.createDataFrame(
        [(i, [float((i + j) % 5 + 1) for j in range(4)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    big_q = spark.createDataFrame(
        [(i, [1.0, float(i % 3), 0.0, 1.0]) for i in range(9)],
        "query_id long, embedding array<double>",
    )
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        sim.cosine_topk_blas(corpus, big_q, k=2).collect()
    assert any("query rows" in str(w.message) for w in rec)
    small_q = big_q.where(F.col("query_id") < 3)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        sim.cosine_topk_blas(corpus, small_q, k=2).collect()
    assert not any("query rows" in str(w.message) for w in rec)


def test_append_sq8_index_incremental_build_matches_full(spark):
    """Round-9 incremental maintenance (q128 locally): build(A) +
    append(B) probes identically to write(A∪B) when B stays inside
    A's value range (frozen stats => same codes either way), and
    out-of-range appended values SATURATE instead of uint8-wrapping."""
    import tempfile

    from kfai_pipeline_spark.operators.similarity import (
        append_ann_index,
        sq8_topk,
        write_sq8_index,
    )

    rows = [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = corpus.where("vec_id % 2 = 0")
    b = corpus.where("vec_id % 2 = 1")
    q = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0, 0.0, 1.0, 2.0, 3.0])],
        ["query_id", "embedding"],
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_sq8_index(corpus, f"{tmp}/full")
        # A alone spans the full [0,5) range per dim, so A's stats ==
        # the union's stats and codes must be bit-identical
        write_sq8_index(a, f"{tmp}/inc")
        append_ann_index(b, f"{tmp}/inc")
        got_full = [
            tuple(r) for r in sq8_topk(
                spark, f"{tmp}/full", q, k=7, refine=8, vectors=corpus
            ).collect()
        ]
        got_inc = [
            tuple(r) for r in sq8_topk(
                spark, f"{tmp}/inc", q, k=7, refine=8, vectors=corpus
            ).collect()
        ]
        assert got_inc == got_full and len(got_inc) == 7

        # saturation: appended vector far outside the build range must
        # still land as the top hit for a matching query (clipped codes
        # keep the DIRECTION; a wrap would invert it) via exact re-rank
        out = spark.createDataFrame(
            [(999, [100.0] * 8)], "vec_id long, embedding array<double>"
        )
        append_ann_index(out, f"{tmp}/inc")
        q2 = spark.createDataFrame(
            [(0, [1.0] * 8)], ["query_id", "embedding"]
        )
        top = sq8_topk(
            spark, f"{tmp}/inc", q2, k=1, refine=50,
            vectors=corpus.unionByName(out),
        ).collect()
        assert top[0]["vec_id"] == 999 and top[0]["score"] == 1.0


def test_append_ivfpq_index_incremental_build_matches_full(spark):
    """q129 locally: frozen books => assign+encode of appended vectors
    is deterministic, so build(A)+append(B) == write(A∪B with A's
    books) probe-for-probe; appending to an empty-built index raises."""
    import tempfile

    import pytest as _pytest

    from kfai_pipeline_spark.operators.similarity import (
        append_ann_index,
        ivfpq_topk,
        train_ivfpq,
        write_ivfpq_index,
    )

    rows = [(i, [float((i * 13 + j * 3) % 7 - 3) for j in range(8)])
            for i in range(60)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = corpus.where("vec_id % 2 = 0")
    b = corpus.where("vec_id % 2 = 1")
    q = spark.createDataFrame(
        [(0, [1.0, -1.0, 2.0, 0.5, -0.5, 1.5, -2.0, 1.0])],
        ["query_id", "embedding"],
    )
    with tempfile.TemporaryDirectory() as tmp:
        cents, books = train_ivfpq(a, n_clusters=4, m=4)
        write_ivfpq_index(corpus, f"{tmp}/full", cents, books)
        write_ivfpq_index(a, f"{tmp}/inc", cents, books)
        append_ann_index(b, f"{tmp}/inc")
        kw = dict(k=6, nprobe=4, refine=16, vectors=corpus)
        got_full = [
            tuple(r)
            for r in ivfpq_topk(spark, f"{tmp}/full", q, **kw).collect()
        ]
        got_inc = [
            tuple(r)
            for r in ivfpq_topk(spark, f"{tmp}/inc", q, **kw).collect()
        ]
        assert got_inc == got_full and len(got_inc) == 6

        empty = corpus.where("vec_id < 0")
        write_ivfpq_index(empty, f"{tmp}/empty", [], [])
        with _pytest.raises(ValueError, match="empty-built"):
            append_ann_index(b, f"{tmp}/empty")


def test_compact_ann_index_preserves_probes_and_drops_files(spark, tmp_path_factory):
    """X52 lifecycle close: a build+append+streamed-epoch index
    compacts into one fresh dir whose probes are bit-identical and
    whose codes land in compaction-sized file counts; the frozen
    artifacts copy verbatim. Both kinds."""
    import os

    from kfai_pipeline_spark.operators.similarity import (
        append_ann_index,
        compact_ann_index,
        ivfpq_topk,
        sq8_topk,
        train_ivfpq,
        write_ivfpq_index,
        write_sq8_index,
    )
    from kfai_pipeline_spark.streaming.index_maintain import (
        maintain_ann_index_stream,
    )

    root = str(tmp_path_factory.mktemp("compact_idx"))
    rows = [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(60)]
    corpus = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    third = [corpus.where(f"doc_id % 3 = {r}") for r in range(3)]
    q = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0, 0.0, 1.0, 2.0, 3.0])],
        ["query_id", "embedding"],
    )

    # SQ8: seed + batch append + one streamed epoch, then compact
    live = os.path.join(root, "sq8")
    write_sq8_index(third[0], live, id_col="doc_id")
    append_ann_index(third[1], live, id_col="doc_id")
    src = os.path.join(root, "src")
    third[2].coalesce(1).write.parquet(f"{src}/f0")
    stream = spark.readStream.schema(corpus.schema).parquet(f"{src}/f*")
    maintain_ann_index_stream(
        stream, live, os.path.join(root, "ckpt")
    ).awaitTermination()

    dest = os.path.join(root, "sq8_opt")
    stats = compact_ann_index(spark, live, dest)
    assert stats["n_rows"] == 60
    assert stats["files_after"] < stats["files_before"]
    kw = dict(k=7, refine=8, vectors=corpus, id_col="doc_id")
    before = [tuple(r) for r in sq8_topk(spark, live, q, **kw).collect()]
    after = [tuple(r) for r in sq8_topk(spark, dest, q, **kw).collect()]
    assert after == before and len(after) == 7
    assert not os.path.isdir(os.path.join(dest, "codes_batches"))

    # IVFPQ: seed + append, compact keeps the partition layout
    cents, books = train_ivfpq(third[0], n_clusters=4, m=4, id_col="doc_id")
    live2 = os.path.join(root, "pq")
    write_ivfpq_index(third[0], live2, cents, books, id_col="doc_id")
    append_ann_index(third[1].unionByName(third[2]), live2, id_col="doc_id")
    dest2 = os.path.join(root, "pq_opt")
    stats2 = compact_ann_index(spark, live2, dest2)
    assert stats2["n_rows"] == 60
    kw2 = dict(k=6, nprobe=4, refine=16, vectors=corpus, id_col="doc_id")
    b2 = [tuple(r) for r in ivfpq_topk(spark, live2, q, **kw2).collect()]
    a2 = [tuple(r) for r in ivfpq_topk(spark, dest2, q, **kw2).collect()]
    assert a2 == b2 and len(a2) == 6
    # partition layout preserved for the probe's pruning
    assert any(
        d.startswith("cluster_id=") for d in os.listdir(f"{dest2}/codes")
    )


def test_index_drift_stats_both_kinds(spark, tmp_path_factory):
    """Drift monitor (q131's op): in-range batches read ~0 drift; a
    shifted batch trips the SQ8 range flag with the right overshoot,
    and the IVFPQ routing confidence drops for off-manifold vectors."""
    import os

    from kfai_pipeline_spark.operators.similarity import (
        index_drift_stats,
        train_ivfpq,
        write_ivfpq_index,
        write_sq8_index,
    )

    root = str(tmp_path_factory.mktemp("drift"))
    rows = [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sq8 = os.path.join(root, "sq8")
    write_sq8_index(corpus, sq8)

    fresh = index_drift_stats(corpus, sq8).collect()[0]
    assert fresh["n_out_of_range"] == 0 and fresh["max_overshoot"] == 0.0
    # seed dims span [0,4]; value 12 overshoots by (12-4)/4 = 2.0
    drifted = spark.createDataFrame(
        [(100, [12.0] + [1.0] * 7), (101, [1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    d = index_drift_stats(drifted, sq8).collect()[0]
    assert d["n_rows"] == 2 and d["n_out_of_range"] == 1
    assert d["frac_out_of_range"] == 0.5 and d["max_overshoot"] == 2.0
    # degenerate rows are excluded, not counted as drift
    degen = spark.createDataFrame(
        [(1, [0.0] * 8), (2, None)], "vec_id long, embedding array<double>"
    )
    z = index_drift_stats(degen, sq8).collect()[0]
    assert z["n_rows"] == 0 and z["n_out_of_range"] == 0

    pq = os.path.join(root, "pq")
    cents, books = train_ivfpq(corpus, n_clusters=4, m=4)
    write_ivfpq_index(corpus, pq, cents, books)
    on_manifold = index_drift_stats(corpus, pq).collect()[0]
    # an orthogonal-ish direction the build never saw routes worse
    off = spark.createDataFrame(
        [(200, [1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0])],
        "vec_id long, embedding array<double>",
    )
    off_row = index_drift_stats(off, pq).collect()[0]
    assert off_row["mean_best_cos"] < on_manifold["mean_best_cos"]


def test_index_drift_stats_ivfpq_empty_batch_reads_full_confidence(
    spark, tmp_path_factory
):
    """Round-9 review fix: a quiet ingest window (empty / degenerate-
    only batch) reads confidence 1.0, never NULL — a `p10 < baseline`
    rebuild policy must not TypeError on it."""
    import os

    from kfai_pipeline_spark.operators.dedup import CacheScope
    from kfai_pipeline_spark.operators.similarity import (
        index_drift_stats,
        train_ivfpq,
        write_ivfpq_index,
    )

    root = str(tmp_path_factory.mktemp("drift_empty"))
    rows = [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(30)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pq = os.path.join(root, "pq")
    cents, books = train_ivfpq(corpus, n_clusters=4, m=4)
    write_ivfpq_index(corpus, pq, cents, books)
    empty = spark.createDataFrame(
        [(1, [0.0] * 8), (2, None)], "vec_id long, embedding array<double>"
    )
    scope = CacheScope()
    row = index_drift_stats(empty, pq, scope=scope).collect()[0]
    scope.release()
    assert row["n_rows"] == 0
    assert row["mean_best_cos"] == 1.0 and row["p10_best_cos"] == 1.0


@pytest.mark.parametrize("kind", ["sq8", "ivfpq"])
def test_index_kind_contracts(spark, tmp_path, kind):
    """The kind is chosen once, at build, and every operation on a
    built index reads it back: from the artifacts of a plain dir (also
    after a rebuild as the other kind) and from the manifest of a
    lifecycle root. An empty-built index refuses append and epoch; a
    path holding no index raises the same error from append,
    compaction, drift and stream start."""
    from kfai_pipeline_spark.operators.index_lifecycle import (
        compact_serving_index,
        init_serving_index,
        maintain_serving_index_stream,
    )
    from kfai_pipeline_spark.streaming.index_maintain import (
        encode_epoch,
        maintain_ann_index_stream,
    )

    corpus, _ = _corpus_queries(spark)
    kw = {"n_clusters": 4} if kind == "ivfpq" else {}
    plain, root = str(tmp_path / "plain"), str(tmp_path / "root")
    S.build_ann_index(corpus, plain, kind=kind, id_col="vec_id", **kw)
    init_serving_index(corpus, root, kind=kind, id_col="vec_id", **kw)
    assert S.index_kind(spark, plain) == kind
    assert S.index_kind(spark, root) == kind
    # a rebuild of the plain dir as the other kind reads back as that kind
    other = "ivfpq" if kind == "sq8" else "sq8"
    S.build_ann_index(corpus, plain, kind=other, id_col="vec_id", n_clusters=4)
    assert S.index_kind(spark, plain) == other

    empty = str(tmp_path / "empty")
    S.build_ann_index(corpus.limit(0), empty, kind=kind, id_col="vec_id", **kw)
    assert S.index_kind(spark, empty) == kind
    with pytest.raises(ValueError, match="empty-built"):
        S.append_ann_index(corpus, empty, id_col="vec_id")
    with pytest.raises(ValueError, match="empty-built"):
        encode_epoch(corpus, empty, str(tmp_path / "epoch"), id_col="vec_id")

    nothing = str(tmp_path / "nothing")
    corpus.limit(2).write.parquet(str(tmp_path / "src"))
    stream = spark.readStream.schema(corpus.schema).parquet(
        str(tmp_path / "src")
    )
    ckpt = str(tmp_path / "ckpt")
    for call in (
        lambda: S.append_ann_index(corpus, nothing, id_col="vec_id"),
        lambda: S.compact_ann_index(spark, nothing, str(tmp_path / "dest")),
        lambda: compact_serving_index(spark, nothing),
        lambda: S.index_drift_stats(corpus, nothing),
        lambda: maintain_ann_index_stream(stream, nothing, ckpt),
        lambda: maintain_serving_index_stream(stream, nothing, ckpt),
    ):
        with pytest.raises(FileNotFoundError, match="no ANN index at"):
            call()


def test_opq_rotation_orthogonal_and_error_no_worse(spark):
    """X54 (Ge et al. 2013 OPQ): the learned rotation must be
    orthogonal, and the rotated-space quantization error must not
    exceed plain PQ's on CORRELATED data (the case OPQ exists for —
    a product split that cuts across correlated dims wastes its code
    budget; the rotation re-axes the split)."""
    import numpy as np

    rng = np.random.RandomState(7)
    # anisotropic + mixed: latent 4-dim signal linearly spread over 16
    # dims, so every PQ sub-block sees correlated coordinates
    latent = rng.randn(4000, 4)
    mix = rng.randn(4, 16)
    X = latent @ mix + 0.05 * rng.randn(4000, 16)
    X /= np.sqrt((X * X).sum(axis=1))[:, None]
    O, books = S._fit_opq_numpy(X, m=4, n_codes=16, pq_iters=6, opq_iters=8)
    assert np.allclose(O @ O.T, np.eye(16), atol=1e-8)

    def err(Xs, bks, rot):
        Y = Xs @ rot
        out = 0.0
        for j, b in enumerate(bks):
            B = np.array(b)
            Ys = Y[:, j * 4 : (j + 1) * 4]
            d2 = (B * B).sum(axis=1)[None, :] - 2.0 * (Ys @ B.T)
            out += float(
                ((Ys - B[d2.argmin(axis=1)]) ** 2).sum()
            )
        return out

    plain = S._fit_pq_numpy(X, 4, 16, 6)
    e_opq = err(X, books, O)
    e_plain = err(X, plain, np.eye(16))
    assert e_opq <= e_plain * 1.001, (e_opq, e_plain)
    # and on THIS fixture the win is material, not epsilon
    assert e_opq < 0.9 * e_plain, (e_opq, e_plain)


def test_opq_ivfpq_exhaustive_parity_append_and_copy(spark, tmp_path):
    """An OPQ-rotated IVFPQ index is semantics-free in the exhaustive
    regime (the q113 contract with rotation on), the rotation is
    FROZEN across appends (appended codes probe correctly), and
    artifact copies carry it."""
    corpus, queries = _corpus_queries(spark)
    n = corpus.count()
    idx = str(tmp_path / "opq")
    S.build_ann_index(
        corpus.where(F.col("vec_id") % 2 == 1),
        idx, kind="ivfpq", id_col="vec_id", n_clusters=8, opq_iters=5,
    )
    assert S.load_ivfpq_rotation(spark, idx) is not None
    S.append_ann_index(
        corpus.where(F.col("vec_id") % 2 == 0), idx, id_col="vec_id"
    )
    got = [
        (r.query_id, r.vec_id, r.score)
        for r in S.ivfpq_topk(
            spark, idx, queries, k=5, nprobe=8, refine=n, vectors=corpus
        ).collect()
    ]
    exact = [
        (r.query_id, r.vec_id, r.score)
        for r in S.cosine_topk(corpus, queries, k=5, round_to=4).collect()
    ]
    assert sorted(got) == sorted(exact) and len(got) == 25
    # artifact copy carries the optional rotation verbatim
    dest = str(tmp_path / "copy")
    S._copy_index_artifacts(spark, idx, dest)
    assert S.load_ivfpq_rotation(spark, dest) == S.load_ivfpq_rotation(
        spark, idx
    )
    # an unrotated index still loads None (absence is the normal case)
    plain_idx = str(tmp_path / "plain")
    S.build_ann_index(corpus, plain_idx, kind="ivfpq", id_col="vec_id",
                      n_clusters=8)
    assert S.load_ivfpq_rotation(spark, plain_idx) is None
    # overwrite-rebuild WITHOUT opq on the SAME path removes the stale
    # rotation (review catch: a left-behind O would rotate the LUT
    # against unrotated codes — silently wrong scores, no error), and
    # the rebuilt index still probes exactly
    S.build_ann_index(corpus, idx, kind="ivfpq", id_col="vec_id",
                      n_clusters=8)
    assert S.load_ivfpq_rotation(spark, idx) is None
    got2 = [
        (r.query_id, r.vec_id, r.score)
        for r in S.ivfpq_topk(
            spark, idx, queries, k=5, nprobe=8, refine=n, vectors=corpus
        ).collect()
    ]
    assert sorted(got2) == sorted(exact)
