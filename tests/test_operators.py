"""Operator unit tests: as-of join edge cases, dedup family invariants
(LSH candidates vs exact Jaccard, simhash hamming, connected
components), API connector batching/retry/routing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kfai_pipeline_spark.operators import dedup as D
from kfai_pipeline_spark.operators import similarity as S
from kfai_pipeline_spark.operators.asof import asof_join
from kfai_pipeline_spark.sources.api_connector import (
    STATUS_OK,
    STATUS_SKIP,
    STATUS_TRANSIENT,
    fetch_batched,
    route_statuses,
)


# ---------------------------------------------------------------- as-of
def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [("k1", 10, "L1"), ("k1", 20, "L2"), ("k2", 5, "L3"), ("k3", 7, "L4")],
        "k string, ts int, lval string",
    )
    right = spark.createDataFrame(
        [("k1", 8, "R8"), ("k1", 15, "R15"), ("k1", 20, "R20"), ("k2", 9, "R9")],
        "k string, rts int, rval string",
    )
    out = {
        (r["k"], r["ts"]): r["rval"]
        for r in asof_join(left, right, "k", "ts", "rts", ["rval"]).collect()
    }
    assert out[("k1", 10)] == "R8"
    assert out[("k1", 20)] == "R20"  # tie: right_ts == left_ts matches
    assert out[("k2", 5)] is None  # no prior right row
    assert out[("k3", 7)] is None  # key absent on right


# ---------------------------------------------------------------- dedup family
@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = []
    for i in range(40):
        # 3 scattered substitutions -> ~9 of 11 shingles differ, so the
        # perturbed docs stay well under any 0.7 Jaccard threshold
        words = base.split()
        for j in (i % 13, (i + 4) % 13, (i + 8) % 13):
            words[j] = f"w{i}_{j}"
        rows.append((i, " ".join(words)))
    # exact dup pair and a near-dup pair
    rows.append((100, base))
    rows.append((101, base))
    rows.append((102, base + " extra"))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_minhash_candidates_superset_of_high_jaccard(spark, dup_docs):
    """Every pair with very high exact Jaccard must be an LSH candidate
    (banding guarantee at 8 bands x 4 rows for sim ~> 0.9)."""
    shingles = D.word_shingles(dup_docs, "text", "doc_id", 3)
    exact = D.ngram_jaccard_pairs(dup_docs, "text", "doc_id", 3, threshold=0.9)
    sigs = D.minhash_signatures(shingles, "doc_id", 32)
    cands = D.minhash_candidates(sigs, "doc_id", 8, 4)
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    cand_pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert exact_pairs, "fixture should contain at least the 100-101-102 cluster"
    missing = exact_pairs - cand_pairs
    assert not missing, f"high-jaccard pairs missed by LSH: {missing}"


def test_minhash_dedup_components(spark, dup_docs):
    comps = D.minhash_dedup(dup_docs, "text", "doc_id", threshold=0.7)
    by_id = {r["doc_id"]: r["component"] for r in comps.collect()}
    assert len(by_id) == dup_docs.count()  # every doc labeled
    assert by_id[100] == by_id[101] == by_id[102] == 100  # min-label of the cluster
    singles = [c for i, c in by_id.items() if i < 40]
    assert len(set(singles)) == 40  # perturbed docs stay singletons at 0.7


def test_minhash_dedup_scoped_releases_all_blocks(spark, dup_docs):
    """The scoped variant must leave NOTHING resident: shingle persist,
    the components edge checkpoint, and the label checkpoints all drop
    on exit — the API contract that makes looping over corpora safe.
    (localCheckpoint blocks are invisible to DataFrame.unpersist; the
    scope frees them at the RDD level.)"""
    jsc = spark.sparkContext._jsc

    def resident_ids() -> set[int]:
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    dup_docs.count()  # materialize the fixture's own .cache() first
    # compare RDD-id SETS, not counts: earlier tests' checkpoint blocks
    # may be GC-reaped asynchronously mid-test and would skew a total
    base = resident_ids()
    with D.minhash_dedup_scoped(dup_docs, "text", "doc_id", threshold=0.7) as comps:
        by_id = {r["doc_id"]: r["component"] for r in comps.collect()}
        assert by_id[100] == by_id[101] == by_id[102] == 100  # same answer as unscoped
        assert resident_ids() - base, "pipeline should be using the cache inside the scope"
    leaked = resident_ids() - base
    assert not leaked, f"scope exit must release every cached/checkpointed block: {leaked}"


def test_simhash_identical_and_hamming(spark, dup_docs):
    sigs = D.simhash(dup_docs, "text", "doc_id")
    by_id = {r["doc_id"]: r["simhash"] for r in sigs.collect()}
    assert by_id[100] == by_id[101]  # identical text -> identical signature
    cands = D.simhash_candidates(sigs, "doc_id", max_hamming=3)
    rows = {(r["id_a"], r["id_b"]): r["hamming"] for r in cands.collect()}
    assert rows[(100, 101)] == 0
    for (a, b), h in rows.items():
        assert 0 <= h <= 3


def test_connected_components_chain_and_triangle(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    comps = {r["id"]: r["component"] for r in D.connected_components(edges).collect()}
    assert comps[1] == comps[2] == comps[3] == comps[4] == 1
    assert comps[10] == comps[11] == comps[12] == 10


def test_connected_components_long_chain_pointer_doubling(spark):
    """A 50-hop path graph must converge in ~log2(diameter) iterations
    (pointer doubling), not one hop per iteration: max_iterations=8
    would fail under plain min-label propagation (needs 50)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a long, id_b long"
    )
    comps = {
        r["id"]: r["component"]
        for r in D.connected_components(edges, max_iterations=8).collect()
    }
    assert len(comps) == 51 and set(comps.values()) == {0}


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting the iteration budget with labels still moving must
    raise, never return silently split components."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a long, id_b long"
    )
    with pytest.raises(D.ConvergenceError, match="did not converge"):
        D.connected_components(edges, max_iterations=2)


def test_connected_components_reliable_checkpoint_dir(spark, tmp_path):
    """Opt-in reliable checkpointing: identical labels, and checkpoint
    files actually land in the given directory (the fault-tolerant path
    for long dedup jobs — executor loss can't drop localCheckpoint
    blocks that were never written anywhere)."""
    import os

    ckpt = str(tmp_path / "cc_ckpt")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    comps = {
        r["id"]: r["component"]
        for r in D.connected_components(edges, checkpoint_dir=ckpt).collect()
    }
    assert comps[1] == comps[2] == comps[3] == comps[4] == 1
    assert comps[10] == comps[11] == comps[12] == 10
    written = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written, "reliable checkpoint wrote no files"


def test_exact_dedup_keeps_one_per_text(spark, dup_docs):
    out = D.exact_dedup(dup_docs, "text")
    assert out.count() == dup_docs.count() - 1  # 100/101 collapse
    assert out.select("doc_id").distinct().count() == out.count()


# ---------------------------------------------------------------- API connector
def test_fetch_batched_batches_and_status_routing(spark):
    # fetch_fn runs on executors — observe behavior via returned payloads
    def fake_fetch(keys):
        out = []
        for k in keys:
            n = int(k[1:])
            if n % 10 == 7:
                out.append((STATUS_SKIP, None))
            else:
                out.append((STATUS_OK, f"batch={len(keys)}"))
        return out

    df = spark.createDataFrame([(f"v{i}",) for i in range(101)], "video_id string")
    fetched = fetch_batched(df.coalesce(1), fake_fetch, batch_size=50).cache()
    ok, skip, transient = route_statuses(fetched)
    assert ok.count() == 91 and skip.count() == 10 and transient.count() == 0
    batch_sizes = {int(r["payload"].split("=")[1]) for r in ok.collect()}
    assert max(batch_sizes) <= 50  # API batch cap respected (ref youtube.py:51-56)


def test_fetch_batched_retries_transients(spark):
    # worker-local attempt counter; attempt count comes back in payload
    def flaky_fetch(keys, _attempts={}):
        out = []
        for k in keys:
            _attempts[k] = _attempts.get(k, 0) + 1
            if _attempts[k] <= 1 and k == "v1":
                out.append((STATUS_TRANSIENT, None))
            else:
                out.append((STATUS_OK, f"attempts={_attempts[k]}"))
        return out

    df = spark.createDataFrame([("v0",), ("v1",), ("v2",)], "video_id string")
    fetched = fetch_batched(df.coalesce(1), flaky_fetch, batch_size=10, max_retries=2)
    rows = {r["video_id"]: (r["status"], r["payload"]) for r in fetched.collect()}
    assert all(s == STATUS_OK for s, _ in rows.values())
    assert rows["v1"][1] == "attempts=2"  # retried once, then succeeded
    assert rows["v0"][1] == "attempts=1"


def test_fetch_batched_exhausts_retries(spark):
    def always_down(keys):
        return [(STATUS_TRANSIENT, None) for _ in keys]

    df = spark.createDataFrame([("v0",), ("v1",)], "video_id string")
    fetched = fetch_batched(df.coalesce(1), always_down, batch_size=10, max_retries=1)
    ok, skip, transient = route_statuses(fetched)
    assert transient.count() == 2 and ok.count() == 0 and skip.count() == 0


from hypothesis import HealthCheck, given, settings, strategies as st


@st.composite
def _asof_case(draw):
    keys = ["a", "b", "c"]
    left = draw(
        st.lists(
            st.tuples(st.sampled_from(keys), st.integers(0, 50)),
            min_size=1,
            max_size=12,
        )
    )
    # unique (key, rts) on the right: with duplicate right timestamps the
    # carried value among equals is tie-ambiguous in BOTH engines
    right = draw(
        st.lists(
            st.tuples(st.sampled_from(keys), st.integers(0, 50)),
            min_size=0,
            max_size=12,
            unique=True,
        )
    )
    return left, right


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_asof_case())
def test_asof_join_matches_pandas_merge_asof(spark, case):
    """Property: the union+carry-forward plan is semantically
    pd.merge_asof(direction='backward', allow_exact_matches=True) for
    arbitrary key/timestamp layouts, including ties, empty right sides,
    and keys absent on either side."""
    import pandas as pd

    left_rows, right_rows = case
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)], "k string, ts long, lid long"
    )
    right = spark.createDataFrame(
        [(k, t, f"r{k}{t}") for (k, t) in right_rows], "k string, rts long, rval string"
    )
    got = {
        (r["k"], r["ts"], r["lid"]): r["rval"]
        for r in asof_join(left, right, "k", "ts", "rts", ["rval"]).collect()
    }

    lp = pd.DataFrame([(k, t, i) for i, (k, t) in enumerate(left_rows)],
                      columns=["k", "ts", "lid"]).sort_values(["ts", "lid"])
    rp = pd.DataFrame([(k, t, f"r{k}{t}") for (k, t) in right_rows],
                      columns=["k", "rts", "rval"]).sort_values("rts")
    if len(rp):
        exp_df = pd.merge_asof(
            lp, rp, left_on="ts", right_on="rts", by="k",
            direction="backward", allow_exact_matches=True,
        )
        expected = {
            (r.k, r.ts, r.lid): (None if pd.isna(r.rval) else r.rval)
            for r in exp_df.itertuples()
        }
    else:
        expected = {(r.k, r.ts, r.lid): None for r in lp.itertuples()}
    assert got == expected


def test_duplicated_spans_catches_copied_paragraph_minhash_misses(spark):
    """The operator's reason to exist: a paragraph copied into an
    otherwise-unique page. Whole-doc MinHash Jaccard stays below any
    sane near-dup threshold (the page is 90% unique), but the copied
    8-gram spans are flagged by duplicated_spans on both carriers."""
    para = " ".join(f"shared{i}" for i in range(20))  # 20-word passage
    unique = [" ".join(f"u{d}w{i}" for i in range(180)) for d in range(3)]
    rows = [
        (0, unique[0] + " " + para),   # carrier A: 10% copied
        (1, unique[1] + " " + para),   # carrier B: same passage
        (2, unique[2]),                # clean doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = {
        r["doc_id"]: r
        for r in D.duplicated_spans(
            df, "text", "doc_id", n=8, flag_threshold=0.05
        ).collect()
    }
    # the 20-word passage contributes 13 shared 8-gram spans per carrier
    assert out[0]["n_dup_spans"] == out[1]["n_dup_spans"] == 13
    assert out[0]["flagged"] and out[1]["flagged"]
    assert out[2]["n_dup_spans"] == 0 and not out[2]["flagged"]

    # whole-doc exact 3-gram Jaccard on the same pair stays low — the
    # copied passage is invisible at document grain
    pairs = D.ngram_jaccard_pairs(
        df, text_col="text", id_col="doc_id", n=3, threshold=0.5
    ).collect()
    assert pairs == [], "doc-grain Jaccard must not reach 0.5 here"


@st.composite
def _scd2_case(draw):
    # (key, ts, attr) events; duplicate (key, ts) allowed — the
    # tiebreak column disambiguates deterministically in both models.
    # None is a legal attribute state (null-safe change detection):
    # x -> None -> x must yield three versions, and a mid-stream None
    # must never fake a partition start.
    return draw(
        st.lists(
            st.tuples(
                st.sampled_from(["k1", "k2"]),
                st.integers(0, 20),
                st.sampled_from(["x", "y", "z", None]),
            ),
            min_size=1,
            max_size=15,
        )
    )


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_scd2_case())
def test_scd2_history_matches_python_reference(spark, case):
    """Property: the two-window SCD2 build equals a direct Python fold
    over the (ts, event_id)-ordered stream — version numbering, interval
    chaining (valid_to == next valid_from), and is_current on the last
    version only."""
    from kfai_pipeline_spark.operators.pipeline import scd2_history

    rows = [(i, k, t, a) for i, (k, t, a) in enumerate(case)]
    df = spark.createDataFrame(rows, "event_id long, k string, ts long, attr string")
    got = {
        (r["k"], r["version"]): (r["attr"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_history(df, "k", "attr", "ts", tiebreak_col="event_id").collect()
    }

    expected = {}
    by_key: dict[str, list] = {}
    for i, (k, t, a) in enumerate(case):
        by_key.setdefault(k, []).append((t, i, a))
    for k, evs in by_key.items():
        evs.sort()
        versions = []
        prev = object()
        for t, _i, a in evs:
            if a != prev:
                versions.append((a, t))
                prev = a
        for v, (a, t) in enumerate(versions, 1):
            nxt = versions[v][1] if v < len(versions) else None
            expected[(k, v)] = (a, t, nxt, nxt is None)
    assert got == expected


def test_shingle_staging_survives_optimizer(spark, dup_docs):
    """The staged word-split alias must stay its own projection in every
    _exploded_spans consumer — if CollapseProject ever inlines it, the
    shingle lambda re-splits the document per span (O(n^2))."""
    import contextlib
    import io

    for build in (
        lambda: D.word_shingles(dup_docs, "text", "doc_id", 3),
        lambda: D.duplicated_spans(dup_docs, "text", "doc_id", n=3),
    ):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            build().explain("formatted")
        assert "__w" in buf.getvalue(), "staged split projection was collapsed"


def test_semantic_dedup_scoped_releases_all_blocks(spark):
    """Same contract as minhash_dedup_scoped: nothing the SemDeDup
    pipeline cached (LSH bucket persist, edge + label checkpoints) may
    stay resident after the scope exits."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    jsc = spark.sparkContext._jsc

    def resident_ids() -> set[int]:
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    base = resident_ids()
    with D.semantic_dedup_scoped(emb, threshold=0.9) as groups:
        n = groups.count()
        assert n == emb.count()
        assert resident_ids() - base, "pipeline should cache inside the scope"
    leaked = resident_ids() - base
    assert not leaked, f"scope exit must release every cached block: {leaked}"


@st.composite
def _span_corpus(draw):
    # tiny alphabet forces cross-doc span collisions; blank docs and
    # docs shorter than n exercise the degenerate paths
    def doc():
        return draw(
            st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=8).map(
                " ".join
            )
        )

    return [doc() for _ in range(draw(st.integers(2, 6)))]


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_span_corpus())
def test_duplicated_spans_matches_python_reference(spark, texts):
    """Property: span counts, cross-doc duplicate sums, and flags equal
    a direct Python computation — including the short-doc full-text
    span and the exclusion of blank documents."""
    n = 2
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["flagged"])
        for r in D.duplicated_spans(
            df, "text", "doc_id", n=n, flag_threshold=0.05
        ).collect()
    }

    def spans(t):
        w = t.split(" ") if t else [""]
        if len(w) < n:
            return [" ".join(w)]
        return [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]

    nonblank = {i: t for i, t in rows if t.strip()}
    docs_per_span: dict[str, set] = {}
    for i, t in nonblank.items():
        for s in set(spans(t)):
            docs_per_span.setdefault(s, set()).add(i)
    expected = {}
    for i, t in nonblank.items():
        sp = spans(t)
        dup = sum(1 for s in sp if len(docs_per_span[s]) >= 2)
        expected[i] = (len(sp), dup, dup / len(sp) >= 0.05)
    assert got == expected


def test_simhash_dedup_components_and_scoped(spark, dup_docs):
    """simhash_dedup mirrors minhash_dedup's contract: every doc
    labeled, exact copies share their min-id component, and the scoped
    twin releases all blocks."""
    comps = D.simhash_dedup(dup_docs, "text", "doc_id")
    by_id = {r["doc_id"]: r["component"] for r in comps.collect()}
    assert len(by_id) == dup_docs.count()
    assert by_id[100] == by_id[101] == 100  # exact copies, min-label
    # every component label is the min doc_id of its member set
    members: dict[int, list[int]] = {}
    for i, c in by_id.items():
        members.setdefault(c, []).append(i)
    assert all(c == min(ids) for c, ids in members.items())

    jsc = spark.sparkContext._jsc

    def resident_ids() -> set[int]:
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    base = resident_ids()
    with D.simhash_dedup_scoped(dup_docs, "text", "doc_id") as scoped:
        got = {r["doc_id"]: r["component"] for r in scoped.collect()}
        assert got == by_id
    assert not (resident_ids() - base), "scope exit must release all blocks"


def test_dedup_exact_collapse_label_equivalence(spark):
    """The exact-duplicate collapse must be invisible in the output:
    on a corpus that is nothing but copy clusters (the shape that OOMed
    the 100x spot run before the collapse), every cluster shares its
    min-id label, for both near-dup families."""
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
        "red orange yellow green blue indigo violet ultraviolet",
    ]
    rows = [(ti * 100 + c, t) for ti, t in enumerate(texts) for c in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fn in (D.minhash_dedup, D.simhash_dedup):
        by_id = {r["doc_id"]: r["component"] for r in fn(df, "text", "doc_id").collect()}
        assert len(by_id) == len(rows)
        for ti in range(len(texts)):
            labels = {by_id[ti * 100 + c] for c in range(12)}
            assert labels == {ti * 100}, f"{fn.__name__}: cluster {ti} -> {labels}"


def test_dedup_null_and_empty_text_docs_survive(spark):
    """NULL-text docs must come back labeled as singletons (md5(NULL)
    is NULL — without the sentinel fingerprint they'd collapse into one
    bogus cluster AND fall out of the __fp equi-join entirely); empty
    strings are genuinely identical content and share a component."""
    rows = [(1, "alpha beta gamma delta"), (2, None), (3, None),
            (4, ""), (5, ""), (6, "alpha beta gamma delta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fn in (D.minhash_dedup, D.simhash_dedup):
        by_id = {r["doc_id"]: r["component"] for r in fn(df, "text", "doc_id").collect()}
        assert set(by_id) == {1, 2, 3, 4, 5, 6}, f"{fn.__name__} dropped docs"
        assert by_id[1] == by_id[6] == 1      # exact dups share min label
    # Unified no-content semantics (round-6 NULL sweep): NULL text
    # behaves like empty text across the WHOLE signature family —
    # minhash's short-doc fallback and simhash's coalesced explode both
    # give null and empty docs the same '' token, so all four merge
    # into one no-content component. (Identical empty docs ARE exact
    # duplicates of each other; a per-family split here meant minhash
    # and simhash disagreed about the same corpus.)
    for fn in (D.minhash_dedup, D.simhash_dedup):
        by_id = {r["doc_id"]: r["component"]
                 for r in fn(df, "text", "doc_id").collect()}
        assert by_id[2] == by_id[3] == by_id[4] == by_id[5] == 2, fn.__name__


def test_neardup_against_index_roundtrip(spark, dup_docs, tmp_path):
    """X37 incremental index: the persisted-parquet probe finds the
    planted near-dup, append folds a cleared batch in, and re-checking
    an already-appended batch yields no self-matches."""
    idx_path = str(tmp_path / "mh_index")
    corpus = dup_docs.where(F.col("doc_id") < 100)          # 40 perturbed docs
    batch = dup_docs.where(F.col("doc_id") >= 100)          # 100/101 exact, 102 near
    # plant: batch doc 100 is an exact copy of nothing in corpus, but
    # 100/101/102 are mutual dups — index the corpus plus doc 100
    D.write_minhash_index(corpus.unionByName(dup_docs.where(F.col("doc_id") == 100)), idx_path)
    hits = D.neardup_against_index(
        dup_docs.where(F.col("doc_id").isin(101, 102)), idx_path, est_threshold=0.5
    )
    got = {(r["batch_id"], r["index_id"]): r["est_jaccard"] for r in hits.collect()}
    assert (101, 100) in got and got[(101, 100)] == 1.0     # exact copy -> est 1.0
    assert (102, 100) in got and 0.5 <= got[(102, 100)] <= 1.0
    assert all(b >= 100 and i == 100 for b, i in got)       # perturbed corpus stays quiet

    # append the cleared batch; a re-check must not self-match
    D.write_minhash_index(
        dup_docs.where(F.col("doc_id").isin(101, 102)), idx_path, mode="append"
    )
    again = D.neardup_against_index(
        dup_docs.where(F.col("doc_id").isin(101, 102)), idx_path, est_threshold=0.5
    )
    pairs = {(r["batch_id"], r["index_id"]) for r in again.collect()}
    assert (101, 101) not in pairs and (102, 102) not in pairs
    assert (101, 102) in pairs  # the newly appended sibling now matches

    # appended batches live in their own _SUCCESS-gated subdirectory
    import os

    subdirs = [d for d in os.listdir(idx_path) if d.startswith("append_")]
    assert len(subdirs) == 1 and os.path.exists(
        os.path.join(idx_path, subdirs[0], "_SUCCESS")
    )

    # deprecated alias: threshold= warns and forwards to est_threshold
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        aliased = D.neardup_against_index(
            dup_docs.where(F.col("doc_id").isin(101, 102)), idx_path, threshold=0.5
        )
        assert {(r["batch_id"], r["index_id"]) for r in aliased.collect()} == pairs
    assert any(issubclass(w.category, DeprecationWarning) for w in caught)


def test_neardup_index_probe_never_sees_torn_append(spark, dup_docs, tmp_path):
    """X37 commit protocol: a probe concurrent with an append must see
    none or ALL of the appending batch. Simulated by removing the
    append subdirectory's _SUCCESS marker (the exact on-disk state
    mid-commit, part files landed but the job marker not yet written):
    the probe must exclude the whole batch, and see all of it once the
    marker exists."""
    import os
    import pathlib

    idx_path = str(tmp_path / "mh_index")
    corpus = dup_docs.where(F.col("doc_id") < 100)
    D.write_minhash_index(
        corpus.unionByName(dup_docs.where(F.col("doc_id") == 100)), idx_path
    )
    D.write_minhash_index(
        dup_docs.where(F.col("doc_id").isin(101, 102)), idx_path, mode="append"
    )
    sub = next(d for d in os.listdir(idx_path) if d.startswith("append_"))
    marker = pathlib.Path(idx_path, sub, "_SUCCESS")

    probe = dup_docs.where(F.col("doc_id") == 101)
    marker.unlink()  # mid-commit: part files present, marker absent
    torn = {
        r["index_id"]
        for r in D.neardup_against_index(probe, idx_path, est_threshold=0.5).collect()
    }
    assert torn == {100}, "uncommitted append leaked into the probe"

    marker.touch()  # commit completes
    full = {
        r["index_id"]
        for r in D.neardup_against_index(probe, idx_path, est_threshold=0.5).collect()
    }
    assert full == {100, 102}

    # and a missing index fails loudly, not as an empty match set
    with pytest.raises(FileNotFoundError):
        D.read_minhash_index(spark, str(tmp_path / "nowhere"))

    # base part files WITHOUT the top-level marker (stripped by
    # object-store lifecycle rules / mid-write) must raise, never be
    # silently excluded — a probe that skipped the base corpus would
    # wave its duplicates through
    os.remove(os.path.join(idx_path, "_SUCCESS"))
    with pytest.raises(IOError, match="no top-level _SUCCESS"):
        D.read_minhash_index(spark, idx_path)
    pathlib.Path(idx_path, "_SUCCESS").touch()

    # conflicting threshold kwargs refuse to guess
    with pytest.raises(ValueError, match="deprecated alias"):
        D.neardup_against_index(
            probe, idx_path, est_threshold=0.7, threshold=0.5
        )


def test_semantic_dedup_vector_copy_collapse(spark):
    """Vector twin of the exact-collapse guard: byte-identical
    embeddings share their min-id group (cosine exactly 1.0), a near
    pair still merges, and ZERO vectors stay singletons (cosine(0,0)
    is undefined — never an edge), exactly as the uncollapsed pipeline
    behaved."""
    import math

    base = [1.0, 2.0, 3.0, 4.0]
    near = [1.0, 2.0, 3.0, 4.2]          # cosine ~0.9993
    other = [4.0, -3.0, 2.0, -1.0]
    rows = (
        [(i, base) for i in (10, 11, 12)]
        + [(20, near)]
        + [(30, other)]
        + [(40, [0.0] * 4), (41, [0.0] * 4)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for use_lsh in (False, True):
        out = {
            r["vec_id"]: (r["group_id"], r["is_keeper"])
            for r in D.semantic_dedup(
                df, threshold=0.99, use_lsh=use_lsh, dim=4
            ).collect()
        }
        assert set(out) == {10, 11, 12, 20, 30, 40, 41}, out
        assert out[10] == (10, True)
        assert out[11] == (10, False) and out[12] == (10, False)
        assert out[20] == (10, False)        # near-dup joins the copy cluster
        assert out[30] == (30, True)
        assert out[40] == (40, True) and out[41] == (41, True)  # zeros singleton


def test_asof_join_null_keys_match_nothing(spark):
    """Equi-join semantics for NULL keys (round-6 NULL sweep): a
    NULL-key left row returns with NULL values (left-join totality)
    and never picks up a NULL-key right row's carry; NULL-key right
    rows are inert."""
    import datetime as dt

    from kfai_pipeline_spark.operators.asof import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, t(10), "l1"), (None, t(10), "l2")],
        "user_id long, lts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, t(5), 100.0), (None, t(5), 999.0)],
        "user_id long, rts timestamp, val double",
    )
    out = {r.tag: r.val for r in asof_join(
        left, right, "user_id", "lts", "rts", value_cols=["val"]
    ).collect()}
    assert out == {"l1": 100.0, "l2": None}


# ---------------------------------------------------------------- hard negatives
def test_mine_hard_negatives_hand_computed(spark):
    # anchor 0 (label A) at [1,0]; corpus: same-label near-twin must be
    # excluded, different-label vectors rank by cosine
    rows = [
        (0, [1.0, 0.0], "A"),
        (1, [0.99, 0.1], "A"),    # same label: never a negative
        (2, [1.0, 0.05], "B"),    # closest different-label
        (3, [0.5, 0.5], "B"),
        (4, [-1.0, 0.0], "C"),    # most distant
        (5, None, "B"),           # NULL vector: excluded
        (6, [0.0, 0.0], "B"),     # zero norm: no direction, excluded
        (7, [0.9, 0.1], None),    # NULL label: unknown class, excluded
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    anchors = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("anchor_id"), "embedding", "label"
    )
    got = S.mine_hard_negatives(emb, anchors, k=2).collect()
    assert [(r.anchor_id, r.vec_id) for r in got] == [(0, 2), (0, 3)]
    assert all(-1.0 <= r.score <= 1.0 for r in got)


def test_mine_hard_negatives_k_cap_and_degenerate_anchor(spark):
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.0, 0.0], 1),   # zero-norm anchor: mines nothing
        (10, [0.8, 0.2], 1),
        (11, [0.7, 0.3], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    anchors = emb.where(F.col("vec_id") <= 1).select(
        F.col("vec_id").alias("anchor_id"), "embedding", "label"
    )
    got = S.mine_hard_negatives(emb, anchors, k=10).collect()
    by_anchor = {}
    for r in got:
        by_anchor.setdefault(r.anchor_id, []).append(r.vec_id)
    assert sorted(by_anchor[0]) == [10, 11]   # k caps above available
    assert 1 not in by_anchor                 # degenerate anchor dropped


def test_mine_hard_negatives_blas_equals_expression_arm(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    anchors = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("anchor_id"), "embedding", "label"
    )
    expr_arm = sorted(
        map(tuple, S.mine_hard_negatives(emb, anchors, k=7).collect())
    )
    blas_arm = sorted(
        map(tuple, S.mine_hard_negatives_blas(emb, anchors, k=7).collect())
    )
    assert blas_arm == expr_arm


def test_mine_hard_negatives_blas_exclusions(spark):
    rows = [
        (0, [1.0, 0.0], "A"),
        (1, [0.99, 0.1], "A"),
        (2, [1.0, 0.05], "B"),
        (3, [0.5, 0.5], "B"),
        (5, None, "B"),
        (6, [0.0, 0.0], "B"),
        (7, [0.9, 0.1], None),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    anchors = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("anchor_id"), "embedding", "label"
    )
    got = S.mine_hard_negatives_blas(emb, anchors, k=2).collect()
    assert [(r.anchor_id, r.vec_id) for r in got] == [(0, 2), (0, 3)]


def test_catalog_schema_pin_reads_evolved_directory(spark, tmp_path_factory):
    """Evolving-lake read posture (round 8): a directory holding an
    int32 vintage and an int64 vintage of the same column reads
    through the PINNED catalog schema (Spark 4 scan-side widening),
    null-filling columns absent from old files."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kfai_pipeline_spark.catalog import load_table, pin_table_schema

    root = str(tmp_path_factory.mktemp("evolve"))
    d = os.path.join(root, "events.parquet")
    os.makedirs(d)
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int32())}),
        f"{d}/part-a.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([3, 4], pa.int64()),
                "schema_rev": pa.array([2, 2], pa.int32()),
            }
        ),
        f"{d}/part-b.parquet",
    )
    pin_table_schema(root, "events", "event_id bigint, schema_rev int")
    try:
        df = load_table(spark, root, "events")
        rows = sorted((r["event_id"], r["schema_rev"]) for r in df.collect())
        assert rows == [(1, None), (2, None), (3, 2), (4, 2)]
    finally:
        pin_table_schema(root, "events", None)


def test_bloom_km_positions_jvm_numpy_parity(spark):
    """The Kirsch-Mitzenmacher position derivation must be bit-identical
    between the JVM build expressions and the numpy probe kernel — a
    divergence would create false NEGATIVES (true hits pruned), which
    no fp-tolerant layer downstream can repair."""
    import numpy as np

    from kfai_pipeline_spark.operators.decontaminate import (
        _bloom_positions,
        _km_positions_numpy,
    )

    keys = [
        "", "a", "the quick brown fox", "unicode ½ ⚡ 🧪", "\x00nul",
        "long " * 100,
    ] + [f"shingle {i} body" for i in range(50)]
    df = spark.createDataFrame([(k,) for k in keys], "s string")
    n_bits, k_hashes = 1 << 20, 5
    rows = df.select(
        F.xxhash64("s").alias("h"),
        _bloom_positions(F.col("s"), n_bits, k_hashes).alias("pos"),
    ).collect()
    h = np.array([r["h"] for r in rows], dtype=np.int64)
    want = np.array([r["pos"] for r in rows], dtype=np.int64)
    got = _km_positions_numpy(h, n_bits, k_hashes)
    assert (got == want).all()
