"""RAG query-path tests (SURVEY §3.1 / §7 phase 6): full lifecycle with
injected LLM stubs over a hash-embedded chunk-document table built from
the video fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kfai_pipeline_spark.operators.chunker import chunk_transcripts, explode_chunks
from kfai_pipeline_spark.operators.embed import embed_texts, hash_embed
from kfai_pipeline_spark.plans.rag import (
    CONTEXT_COUNT,
    TIMESTAMP_BUFFER,
    Citation,
    ParsedQuery,
    answer_query,
    canonicalize_host_expr,
    canonicalize_hosts,
    cite,
    retrieve,
    retrieve_multi_topic,
)


@pytest.fixture(scope="module")
def chunk_docs(spark):
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
    raw = spark.createDataFrame(make_video_records(30), schema)
    grain = explode_chunks(
        chunk_transcripts(raw).drop("transcript"),
        keep_cols=["video_id", "show_name", "hosts", "title", "published_at"],
    )
    return embed_texts(grain).cache()


def test_retrieve_respects_filters(chunk_docs):
    qv = hash_embed(["spark data"])[0]
    everything = retrieve(chunk_docs, qv, ParsedQuery(), k=10_000)
    assert everything.count() == chunk_docs.count()

    one_show = retrieve(chunk_docs, qv, ParsedQuery(shows=["Alpha Show"]), k=10_000)
    assert (
        one_show.select("show_name").distinct().collect()
        == chunk_docs.where("show_name = 'Alpha Show'")
        .select("show_name")
        .distinct()
        .collect()
    )

    y2023 = retrieve(chunk_docs, qv, ParsedQuery(exact_year=2023), k=10_000)
    years = {r[0] for r in y2023.select(F.year(F.timestamp_seconds("published_at"))).collect()}
    assert years == {2023}


def test_retrieve_topk_and_order(chunk_docs):
    qv = hash_embed(["the quick brown fox"])[0]
    top = retrieve(chunk_docs, qv, ParsedQuery(), k=25)
    rows = top.collect()
    assert len(rows) == 25
    # chronological re-sort (W2): published_at non-decreasing
    pubs = [r["published_at"] for r in rows]
    assert pubs == sorted(pubs)
    # no duplicate (video_id, start_time) keys (W1 dedup)
    keys = [(r["video_id"], r["start_time"]) for r in rows]
    assert len(keys) == len(set(keys))
    # the kept 25 are the top-25 by score
    scored_all = retrieve(chunk_docs, qv, ParsedQuery(), k=10_000)
    best = sorted((r["score"] for r in scored_all.collect()), reverse=True)[:25]
    got = sorted((r["score"] for r in rows), reverse=True)
    assert got == pytest.approx(best)


def test_topic_hybrid_predicate(chunk_docs):
    qv = hash_embed(["q"])[0]
    hits = retrieve(chunk_docs, qv, ParsedQuery(topics=["Episode 3"]), k=10_000)
    assert hits.count() > 0
    assert hits.where(~F.col("title").ilike("%Episode 3%")).count() == 0


def test_cite_grouping_and_urls(chunk_docs):
    sample = chunk_docs.limit(3).collect()
    citations = [Citation(r["video_id"], r["start_time"]) for r in sample]
    out = cite(chunk_docs, citations).collect()
    assert 1 <= len(out) <= 3
    total_ts = sum(len(r["timestamps"]) for r in out)
    assert total_ts == len({(c.video_id, int(c.start_time)) for c in citations})
    cited_raw = {int(c.start_time) for c in citations}
    for r in out:
        assert list(r["timestamps"]) == sorted(r["timestamps"])
        # timestamps are the RAW cited seconds; only the URL shifts +buffer
        # (ref query_agent.py:160-181)
        assert set(r["timestamps"]) <= cited_raw
        for ts, url in zip(r["timestamps"], r["urls"]):
            assert url == (
                f"https://www.youtube.com/watch?v={r['video_id']}"
                f"&t={ts + TIMESTAMP_BUFFER}s"
            )
        assert len(r["formatted"]) == len(r["timestamps"])


def test_citation_time_format(spark):
    from kfai_pipeline_spark.functions.datetime_fns import format_citation_time

    df = spark.createDataFrame(
        [(0,), (59,), (330,), (3599,), (3600,), (3930,), (7325,)], "s long"
    )
    got = [r["o"] for r in df.select(format_citation_time("s").alias("o")).collect()]
    # reference form (query_agent.py:160-168): m:ss below an hour, else h:mm:ss
    assert got == ["0:00", "0:59", "5:30", "59:59", "1:00:00", "1:05:30", "2:02:05"]


def test_host_canonicalization(spark):
    assert canonicalize_hosts(["Parris", "Paris", "Gary", "Unknown Person"]) == [
        "Parris Lilly",
        "Gary Whitta",
        "Unknown Person",
    ]
    assert canonicalize_hosts(["Mike", "SnowBikeMike"]) == ["Mike Howard"]
    df = spark.createDataFrame(
        [("Parris",), ("Paris",), ("Nobody",)], "h string"
    )
    got = [r["c"] for r in df.select(canonicalize_host_expr(F.col("h")).alias("c")).collect()]
    assert got == ["Parris Lilly", "Parris Lilly", "Nobody"]


def test_metadata_predicate_canonicalizes_parsed_hosts(spark):
    # a parsed alias ("Paris") must filter on the canonical host exactly
    # like the reference's PRIMARY_HOST_MAP-primed parser would
    from kfai_pipeline_spark.plans.rag import metadata_predicate

    df = spark.createDataFrame(
        [
            ("v1", "Parris Lilly,Gary Whitta"),
            ("v2", "Greg Miller"),
            ("v3", "Mike Howard"),
        ],
        "video_id string, hosts string",
    )
    for alias in ("Paris", "Parris"):
        got = df.where(metadata_predicate(ParsedQuery(hosts=[alias]))).collect()
        assert [r["video_id"] for r in got] == ["v1"], alias
    got = df.where(metadata_predicate(ParsedQuery(hosts=["SnowBikeMike"]))).collect()
    assert [r["video_id"] for r in got] == ["v3"]


def test_host_alias_filters_array_hosts(chunk_docs):
    # the store keeps hosts as ARRAY<STRING>: a parsed alias must keep
    # exactly the chunks with the canonical host among their hosts, on
    # the brute path and on the tiered brute arm (a bare LIKE over the
    # array is a Spark type error)
    from kfai_pipeline_spark.plans.rag import retrieve_tiered

    docs = chunk_docs.withColumn(
        "hosts",
        F.transform(
            "hosts", lambda h: F.when(h == "Host C", "Greg Miller").otherwise(h)
        ),
    )
    qv = hash_embed(["spark data"])[0]

    def keys(df):
        return {(r["video_id"], r["start_time"]) for r in df.collect()}

    want = keys(
        retrieve(docs, qv, ParsedQuery(), k=10_000).where(
            F.array_contains("hosts", "Greg Miller")
        )
    )
    assert want
    parsed = ParsedQuery(hosts=["Greg"])
    assert keys(retrieve(docs, qv, parsed, k=10_000)) == want
    assert keys(
        retrieve_tiered(docs, qv, parsed, k=10_000, tier="brute")
    ) == want


def test_retrieve_multi_topic_union(chunk_docs):
    parsed = ParsedQuery(topics=["Episode 3", "Episode 4"])
    got = retrieve_multi_topic(chunk_docs, "what happened?", parsed, hash_embed, k=10_000)
    rows = got.collect()
    assert len(rows) > 0
    # every row matches at least one topic's hybrid predicate
    bad = got.where(
        ~F.col("title").ilike("%Episode 3%")
        & ~F.col("text").ilike("%Episode 3%")
        & ~F.col("title").ilike("%Episode 4%")
        & ~F.col("text").ilike("%Episode 4%")
    )
    assert bad.count() == 0
    # no duplicate keys survive the union of branches
    keys = [(r["video_id"], r["start_time"]) for r in rows]
    assert len(keys) == len(set(keys))
    # single-topic falls back to scoring by the question itself and
    # equals the single-pass form on the same predicate
    one = retrieve_multi_topic(
        chunk_docs, "what happened?", ParsedQuery(topics=["Episode 3"]), hash_embed, k=10_000
    )
    single = retrieve(
        chunk_docs, hash_embed(["what happened?"])[0], ParsedQuery(topics=["Episode 3"]), k=10_000
    )
    assert one.count() == single.count()


def test_answer_query_end_to_end(chunk_docs):
    def parser(q: str) -> ParsedQuery:
        return ParsedQuery(shows=["Alpha Show"])

    def synthesizer(q, context_rows):
        assert 0 < len(context_rows) <= CONTEXT_COUNT
        first = context_rows[0]
        return "stub answer", [Citation(first["video_id"], first["start_time"])]

    answer, sources = answer_query(
        chunk_docs, "what did Alpha Show cover?", parser, hash_embed, synthesizer
    )
    assert answer == "stub answer"
    src = sources.collect()
    assert len(src) == 1
    assert src[0]["urls"][0].startswith("https://www.youtube.com/watch?v=")


def test_retrieve_hybrid_rrf(chunk_docs):
    from kfai_pipeline_spark.plans.rag import retrieve_hybrid_rrf

    qv = hash_embed(["spark data"])[0]
    # a term guaranteed present in the fixture chunk text
    term = (
        chunk_docs.select(F.explode(F.split("text", r"\s+")).alias("w"))
        .where(F.length("w") > 3)
        .groupBy("w").count().orderBy(F.desc("count")).first()["w"]
    )
    out = retrieve_hybrid_rrf(chunk_docs, [term], qv, ParsedQuery(), k=10)
    rows = out.collect()
    assert 0 < len(rows) <= 10
    # dedup + chronological re-sort contract shared with retrieve()
    keys = [(r["video_id"], r["start_time"]) for r in rows]
    assert len(keys) == len(set(keys))
    pubs = [r["published_at"] for r in rows]
    assert pubs == sorted(pubs)
    # metadata predicate prunes both arms
    one_show = retrieve_hybrid_rrf(
        chunk_docs, [term], qv, ParsedQuery(shows=["Alpha Show"]), k=10
    )
    assert one_show.where("show_name <> 'Alpha Show'").count() == 0
    # fused score is the RRF value: bounded by 2/(60+1)
    assert all(0 < r["score"] <= 2 / 61 + 1e-9 for r in rows)


def test_answer_query_rrf_strategy(chunk_docs):
    """retrieval='rrf' drives the full lifecycle through the rank-fused
    hybrid arm: topics become BM25 query terms, context stays <= k,
    citations join back as usual."""
    term = (
        chunk_docs.select(F.explode(F.split("text", r"\s+")).alias("w"))
        .where(F.length("w") > 3)
        .groupBy("w").count().orderBy(F.desc("count")).first()["w"]
    )

    def parser(q: str) -> ParsedQuery:
        return ParsedQuery(topics=[term])

    seen = {}

    def synthesizer(q, context_rows):
        assert 0 < len(context_rows) <= 10
        seen["n"] = len(context_rows)
        first = context_rows[0]
        return "rrf answer", [Citation(first["video_id"], first["start_time"])]

    answer, sources = answer_query(
        chunk_docs, f"what about {term}?", parser, hash_embed, synthesizer,
        k=10, retrieval="rrf",
    )
    assert answer == "rrf answer"
    assert sources.count() == 1 and seen["n"] > 0


def test_answer_query_rrf_all_punctuation_falls_back(chunk_docs):
    """A question/topics whose every token normalizes away (punctuation
    only) has no lexical arm to fuse — the rrf strategy must fall back
    to the vector path instead of letting bm25_topk raise mid-lifecycle.
    The punctuation topics then ILIKE-match nothing, so the lifecycle
    completes with an EMPTY context (the no-docs case the interactive
    session already warns about), not an exception."""

    def parser(q: str) -> ParsedQuery:
        return ParsedQuery(topics=["?!", "..."])

    def synthesizer(q, context_rows):
        assert len(context_rows) <= 10
        return "fallback answer", []

    answer, sources = answer_query(
        chunk_docs, "???", parser, hash_embed, synthesizer, k=10, retrieval="rrf"
    )
    assert answer == "fallback answer"
    assert sources.count() == 0


# ------------------------------------------------ tiered retrieval (X50)
@pytest.fixture(scope="module")
def tiered_docs(spark, tmp_path_factory):
    """A doc-grain corpus with a unique id + persisted SQ8 index: 90
    docs across 6 shows, deterministic hash embeddings."""
    import os

    from kfai_pipeline_spark.plans.rag import build_retrieval_index

    texts = [f"doc {i} about topic {i % 7} and theme {i % 5}" for i in range(90)]
    vecs = hash_embed(texts)
    rows = [
        (
            i,
            f"v{i % 12}",
            float((i // 12) * 30),
            f"Show {i % 6}",
            1_600_000_000 + i * 3600,
            f"Title {i}",
            texts[i],
            [float(x) for x in vecs[i]],
        )
        for i in range(90)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, video_id string, start_time double, show_name string, "
        "published_at long, title string, text string, embedding array<double>",
    ).cache()
    idx = os.path.join(str(tmp_path_factory.mktemp("tiered")), "sq8")
    build_retrieval_index(docs, idx, id_col="doc_id")
    return docs, idx


def test_retrieve_tiered_ann_matches_brute_exhaustive(tiered_docs):
    """Parity contract (the q121 oracle, locally): with refine covering
    the corpus, the ANN tier's rows == the brute tier's rows."""
    from kfai_pipeline_spark.plans.rag import retrieve_tiered

    docs, idx = tiered_docs
    qv = [float(x) for x in hash_embed(["topic 3 theme 2"])[0]]
    parsed = ParsedQuery(shows=["Show 1", "Show 4"])
    cols = ["doc_id", "video_id", "start_time", "score"]
    brute = retrieve_tiered(docs, qv, parsed, k=10, tier="brute")
    ann = retrieve_tiered(
        docs, qv, parsed, k=10, tier="ann", index_path=idx, refine=16
    )
    b = sorted(tuple(r) for r in brute.select(*cols).collect())
    a = sorted(tuple(r) for r in ann.select(*cols).collect())
    assert a == b and len(a) == 10


def test_retrieve_tiered_topup_exhausts_on_selective_filter(tiered_docs):
    """A predicate keeping fewer rows than k forces the top-up loop to
    exhaust the index — the result is then ALL filtered rows, exactly
    the brute answer (set equality, not just top-k)."""
    from kfai_pipeline_spark.plans.rag import retrieve_tiered

    docs, idx = tiered_docs
    qv = [float(x) for x in hash_embed(["theme 0"])[0]]
    parsed = ParsedQuery(shows=["Show 2"])  # 15 docs < k=20
    cols = ["doc_id", "score"]
    brute = retrieve_tiered(docs, qv, parsed, k=20, tier="brute")
    ann = retrieve_tiered(
        docs, qv, parsed, k=20, tier="ann", index_path=idx, refine=4,
        topup_factor=3,
    )
    b = sorted(tuple(r) for r in brute.select(*cols).collect())
    a = sorted(tuple(r) for r in ann.select(*cols).collect())
    assert a == b and len(a) == 15


def test_retrieve_tiered_routing(tiered_docs):
    """tier='auto' routes by corpus size vs threshold; tier='ann'
    without an index is an error."""
    from kfai_pipeline_spark.plans.rag import retrieve_tiered

    docs, idx = tiered_docs
    qv = [float(x) for x in hash_embed(["route me"])[0]]
    with pytest.raises(ValueError, match="index_path"):
        retrieve_tiered(docs, qv, ParsedQuery(), k=5, tier="ann")
    with pytest.raises(ValueError, match="tier"):
        retrieve_tiered(docs, qv, ParsedQuery(), k=5, tier="warp")
    # auto + tiny threshold MUST take the ANN path: a bogus index path
    # fails loudly, proving the route; a huge threshold never touches it
    with pytest.raises(Exception):
        retrieve_tiered(
            docs, qv, ParsedQuery(), k=5, tier="auto", ann_threshold=1,
            index_path="/nonexistent/sq8/index",
        ).collect()
    ok = retrieve_tiered(
        docs, qv, ParsedQuery(), k=5, tier="auto", ann_threshold=10**9,
        index_path="/nonexistent/sq8/index",
    )
    assert ok.count() == 5


def test_retrieve_tiered_parity_with_degenerate_vectors(spark, tmp_path_factory):
    """Review finding (round 8): NULL/zero-norm embeddings must not
    fill the brute tier's tail when the filtered slice underfills k —
    both tiers exclude them, row-identically."""
    import os

    from kfai_pipeline_spark.plans.rag import build_retrieval_index, retrieve_tiered

    texts = [f"tiny doc {i}" for i in range(8)]
    vecs = hash_embed(texts)
    rows = []
    for i in range(8):
        emb = [float(x) for x in vecs[i]]
        if i == 5:
            emb = None          # NULL embedding
        elif i == 6:
            emb = [0.0] * len(emb)  # zero-norm
        rows.append(
            (i, f"v{i}", 0.0, "Solo Show", 1_600_000_000 + i, f"T{i}",
             texts[i], emb)
        )
    docs = spark.createDataFrame(
        rows,
        "doc_id long, video_id string, start_time double, show_name string, "
        "published_at long, title string, text string, embedding array<double>",
    )
    idx = os.path.join(str(tmp_path_factory.mktemp("degen")), "sq8")
    build_retrieval_index(docs, idx, id_col="doc_id")
    qv = [float(x) for x in hash_embed(["tiny doc 1"])[0]]
    parsed = ParsedQuery(shows=["Solo Show"])  # keeps all 8, only 6 usable
    cols = ["doc_id", "score"]
    brute = retrieve_tiered(docs, qv, parsed, k=20, tier="brute")
    ann = retrieve_tiered(
        docs, qv, parsed, k=20, tier="ann", index_path=idx, refine=8
    )
    b = sorted(tuple(r) for r in brute.select(*cols).collect())
    a = sorted(tuple(r) for r in ann.select(*cols).collect())
    assert a == b and len(a) == 6  # degenerate rows on neither side


def test_answer_query_tiered_lifecycle(tiered_docs):
    """The full lifecycle serving through the ANN tier (X50): parse ->
    tiered retrieve -> synthesize -> cite."""
    docs, idx = tiered_docs

    def parser(q: str) -> ParsedQuery:
        return ParsedQuery(shows=["Show 1", "Show 4"])

    def synthesizer(q, context_rows):
        assert 0 < len(context_rows) <= 10
        first = context_rows[0]
        return "tiered answer", [Citation(first["video_id"], first["start_time"])]

    answer, sources = answer_query(
        docs, "topic 3 theme 2", parser, hash_embed, synthesizer,
        k=10, retrieval="tiered", index_path=idx, tier="ann",
    )
    assert answer == "tiered answer"
    src = sources.collect()
    assert len(src) == 1 and src[0]["urls"][0].startswith(
        "https://www.youtube.com/watch?v="
    )
    with pytest.raises(ValueError, match="retrieval"):
        answer_query(
            docs, "q", parser, hash_embed, synthesizer, retrieval="warp"
        )


def test_retrieve_tiered_ivfpq_kind_matches_brute_exhaustive(
    spark, tiered_docs, tmp_path_factory
):
    """Round-9 verdict item #3: index_kind='ivfpq' routes the probe
    through the q113 partition-pruned index and, in the exhaustive
    regime (nprobe >= n_clusters, k*refine >= corpus), stays
    row-identical to brute — the q125 parity contract, locally."""
    import os

    from kfai_pipeline_spark.plans.rag import (
        build_retrieval_index,
        retrieve_tiered,
    )

    docs, _ = tiered_docs
    idx = os.path.join(str(tmp_path_factory.mktemp("tiered_ivfpq")), "ivfpq")
    build_retrieval_index(docs, idx, id_col="doc_id", kind="ivfpq", n_clusters=4)
    qv = [float(x) for x in hash_embed(["topic 3 theme 2"])[0]]
    parsed = ParsedQuery(shows=["Show 1", "Show 4"])
    cols = ["doc_id", "video_id", "start_time", "score"]
    brute = retrieve_tiered(docs, qv, parsed, k=10, tier="brute")
    ann = retrieve_tiered(
        docs, qv, parsed, k=10, tier="ann", index_path=idx,
        index_kind="ivfpq", nprobe=4, refine=16,
    )
    b = sorted(tuple(r) for r in brute.select(*cols).collect())
    a = sorted(tuple(r) for r in ann.select(*cols).collect())
    assert a == b and len(a) == 10


def test_retrieve_tiered_rejects_unknown_index_kind(tiered_docs):
    from kfai_pipeline_spark.plans.rag import (
        build_retrieval_index,
        retrieve_tiered,
    )

    docs, idx = tiered_docs
    qv = [float(x) for x in hash_embed(["route me"])[0]]
    with pytest.raises(ValueError, match="index kind"):
        retrieve_tiered(
            docs, qv, ParsedQuery(), k=5, tier="ann", index_path=idx,
            index_kind="hnsw",
        )
    with pytest.raises(ValueError, match="index kind"):
        build_retrieval_index(docs, "/tmp/nope", kind="hnsw")


def test_retrieve_tiered_batch_matches_per_query_loop(spark, tiered_docs):
    """Round-9 verdict item #4: the batched arm's per-query rows must
    equal running retrieve_tiered once per query (hash-check on the
    fixture), including a query that needs the top-up loop (selective
    predicate) and a degenerate query (zero vector -> no rows)."""
    from kfai_pipeline_spark.plans.rag import (
        retrieve_tiered,
        retrieve_tiered_batch,
    )

    docs, idx = tiered_docs
    texts = ["topic 3 theme 2", "theme 4 doc", "topic 1 and 6"]
    qvecs = [[float(x) for x in v] for v in hash_embed(texts)]
    dim = len(qvecs[0])
    rows = [(i, qvecs[i]) for i in range(3)] + [(9, [0.0] * dim)]
    queries = spark.createDataFrame(
        rows, "query_id int, embedding array<double>"
    )
    parsed = ParsedQuery(shows=["Show 1", "Show 4"])
    cols = ["doc_id", "video_id", "start_time", "score"]
    # low refine + k small enough that the certificate loop matters
    batch = retrieve_tiered_batch(
        docs, queries, parsed, k=5, id_col="doc_id", index_path=idx,
        refine=4, topup_factor=4, max_rounds=4,
    )
    got = {}
    for r in batch.select("query_id", *cols).collect():
        got.setdefault(r[0], []).append(tuple(r)[1:])
    want = {}
    for qid, qv in [(i, qvecs[i]) for i in range(3)] + [(9, [0.0] * dim)]:
        out = retrieve_tiered(
            docs, qv, parsed, k=5, id_col="doc_id", tier="ann",
            index_path=idx, refine=4, topup_factor=4, max_rounds=4,
        )
        rows_q = [tuple(r) for r in out.select(*cols).collect()]
        if rows_q:
            want[qid] = rows_q
    assert 9 not in got  # degenerate query: no rows, not NULL-score rows
    assert {q: sorted(v) for q, v in got.items()} == {
        q: sorted(v) for q, v in want.items()
    }


def test_retrieve_tiered_batch_per_query_filters(spark, tiered_docs):
    """Round-10 verdict item #1: a {query_id -> ParsedQuery} mapping
    gives each query its own compiled predicate; per-query rows must
    equal retrieve_tiered run with that query's OWN filter — including
    two queries sharing one predicate template (one CASE branch), a
    selective filter that needs the top-up loop, a topic ILIKE, and
    the unfiltered template."""
    from kfai_pipeline_spark.plans.rag import (
        retrieve_tiered,
        retrieve_tiered_batch,
    )

    docs, idx = tiered_docs
    texts = ["topic 3 theme 2", "theme 4 doc", "topic 1 and 6", "doc 42"]
    qvecs = [[float(x) for x in v] for v in hash_embed(texts)]
    queries = spark.createDataFrame(
        list(enumerate(qvecs)), "query_id int, embedding array<double>"
    )
    per_query = {
        0: ParsedQuery(shows=["Show 1", "Show 4"]),
        1: ParsedQuery(shows=["Show 2"]),  # selective: exercises top-up
        2: ParsedQuery(topics=["topic 3"]),
        3: ParsedQuery(shows=["Show 1", "Show 4"]),  # shares 0's template
    }
    cols = ["doc_id", "video_id", "start_time", "score"]
    batch = retrieve_tiered_batch(
        docs, queries, per_query, k=5, id_col="doc_id", index_path=idx,
        refine=4, topup_factor=4, max_rounds=4,
    )
    got = {}
    for r in batch.select("query_id", *cols).collect():
        got.setdefault(r[0], []).append(tuple(r)[1:])
    want = {}
    for qid, qv in enumerate(qvecs):
        out = retrieve_tiered(
            docs, qv, per_query[qid], k=5, id_col="doc_id", tier="ann",
            index_path=idx, refine=4, topup_factor=4, max_rounds=4,
        )
        rows_q = [tuple(r) for r in out.select(*cols).collect()]
        if rows_q:
            want[qid] = rows_q
    assert {q: sorted(v) for q, v in got.items()} == {
        q: sorted(v) for q, v in want.items()
    }


def test_retrieve_tiered_batch_per_query_filters_unknown_id_raises(
    spark, tiered_docs
):
    """A query id missing from the per-query mapping raises — silently
    retrieving nothing for a typo'd mapping is the failure mode the
    validation exists for."""
    from kfai_pipeline_spark.plans.rag import retrieve_tiered_batch

    docs, idx = tiered_docs
    qv = [float(x) for x in hash_embed(["topic 2"])[0]]
    queries = spark.createDataFrame(
        [(0, qv), (5, qv)], "query_id int, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no ParsedQuery"):
        retrieve_tiered_batch(
            docs, queries, {0: ParsedQuery()}, k=5, id_col="doc_id",
            index_path=idx, refine=16,
        )
    # a NULL query id must fail the same validation — ~isin(NULL) is
    # NULL and would otherwise dodge both the scan and the CASE,
    # silently scoring zero recall (round-10 review fix)
    null_q = spark.createDataFrame(
        [(None, qv)], "query_id int, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no ParsedQuery"):
        retrieve_tiered_batch(
            docs, null_q, {0: ParsedQuery()}, k=5, id_col="doc_id",
            index_path=idx, refine=16,
        )


def test_retrieve_tiered_batch_ivfpq_kind(spark, tiered_docs, tmp_path_factory):
    """The batched arm routes through the IVFPQ kind too, parity with
    the single-query ivfpq tier in the exhaustive regime."""
    import os

    from kfai_pipeline_spark.plans.rag import (
        build_retrieval_index,
        retrieve_tiered,
        retrieve_tiered_batch,
    )

    docs, _ = tiered_docs
    idx = os.path.join(str(tmp_path_factory.mktemp("batch_ivfpq")), "ivfpq")
    build_retrieval_index(docs, idx, id_col="doc_id", kind="ivfpq", n_clusters=4)
    qvecs = [[float(x) for x in v] for v in hash_embed(["topic 3", "theme 1"])]
    queries = spark.createDataFrame(
        list(enumerate(qvecs)), "query_id int, embedding array<double>"
    )
    parsed = ParsedQuery(shows=["Show 0", "Show 2", "Show 5"])
    cols = ["doc_id", "video_id", "start_time", "score"]
    batch = retrieve_tiered_batch(
        docs, queries, parsed, k=7, id_col="doc_id", index_path=idx,
        index_kind="ivfpq", nprobe=4, refine=16,
    )
    got = {}
    for r in batch.select("query_id", *cols).collect():
        got.setdefault(r[0], []).append(tuple(r)[1:])
    for qid, qv in enumerate(qvecs):
        single = retrieve_tiered(
            docs, qv, parsed, k=7, id_col="doc_id", tier="ann",
            index_path=idx, index_kind="ivfpq", nprobe=4, refine=16,
        )
        assert sorted(got.get(qid, [])) == sorted(
            tuple(r) for r in single.select(*cols).collect()
        )


def test_retrieve_multi_topic_deterministic_and_tiered_agree(
    spark, tiered_docs
):
    """q124/q127 locally: the deterministic fan-out's rows are
    identical between tier='brute' and tier='ann' (exhaustive regime),
    and an unrounded ANN fan-out is rejected."""
    from kfai_pipeline_spark.plans.rag import retrieve_multi_topic

    docs, idx = tiered_docs
    vec_for = {
        "topic 3": [float(x) for x in hash_embed(["topic 3"])[0]],
        "theme 2": [float(x) for x in hash_embed(["theme 2"])[0]],
    }

    def embedder(texts):
        return [vec_for[t] for t in texts]

    parsed = ParsedQuery(shows=["Show 1", "Show 4"], topics=["topic 3", "theme 2"])
    cols = ["doc_id", "video_id", "start_time", "score"]
    brute = retrieve_multi_topic(
        docs, "q", parsed, embedder, k=8, deterministic=True, id_col="doc_id"
    )
    ann = retrieve_multi_topic(
        docs, "q", parsed, embedder, k=8, deterministic=True, id_col="doc_id",
        tier="ann", index_path=idx, refine=16,
    )
    b = sorted(tuple(r) for r in brute.select(*cols).collect())
    a = sorted(tuple(r) for r in ann.select(*cols).collect())
    assert a == b and len(b) == 8
    with pytest.raises(ValueError, match="deterministic"):
        retrieve_multi_topic(
            docs, "q", parsed, embedder, k=8, tier="ann", index_path=idx
        )


def test_answer_query_tiered_lifecycle_ivfpq(spark, tiered_docs, tmp_path_factory):
    """The lifecycle serves through the IVFPQ index kind too: same
    answer/sources as the SQ8 tier on the same corpus+query."""
    import os

    from kfai_pipeline_spark.plans.rag import build_retrieval_index

    docs, sq8_idx = tiered_docs
    pq_idx = os.path.join(str(tmp_path_factory.mktemp("lc_ivfpq")), "ivfpq")
    build_retrieval_index(docs, pq_idx, id_col="doc_id", kind="ivfpq", n_clusters=4)

    def parser(q: str) -> ParsedQuery:
        return ParsedQuery(shows=["Show 1", "Show 4"])

    captured = {}

    def synthesizer(q, context_rows):
        captured.setdefault("rows", []).append(
            [(r["doc_id"], r["score"]) for r in context_rows]
        )
        first = context_rows[0]
        return "ok", [Citation(first["video_id"], first["start_time"])]

    for idx, kind in ((sq8_idx, "sq8"), (pq_idx, "ivfpq")):
        answer, sources = answer_query(
            docs, "topic 3 theme 2", parser, hash_embed, synthesizer,
            k=10, retrieval="tiered", index_path=idx, tier="ann",
            index_kind=kind, nprobe=4,
        )
        assert answer == "ok" and sources.count() == 1
    a, b = captured["rows"]
    assert sorted(a) == sorted(b)


def test_retrieve_tiered_batch_custom_query_id_col(spark, tiered_docs):
    """Round-9 review fix: the probes name their output id column
    'query_id' regardless of query_id_col — the batch arm must alias
    it back so a non-default name works end-to-end."""
    from kfai_pipeline_spark.plans.rag import retrieve_tiered_batch

    docs, idx = tiered_docs
    qv = [float(x) for x in hash_embed(["topic 2"])[0]]
    queries = spark.createDataFrame(
        [(7, qv)], "qid int, embedding array<double>"
    )
    out = retrieve_tiered_batch(
        docs, queries, ParsedQuery(shows=["Show 1"]), k=5, id_col="doc_id",
        index_path=idx, refine=16, query_id_col="qid",
    )
    rows = out.collect()
    assert rows and all(r["qid"] == 7 for r in rows)


def test_retrieve_multi_topic_deterministic_defaults_id_tiebreak(
    spark, tiered_docs
):
    """Round-9 review fix: deterministic=True without id_col still
    tie-breaks the final cross-branch dedup on doc_id (two runs, same
    rows) instead of flapping on partition-constant keys."""
    from kfai_pipeline_spark.plans.rag import retrieve_multi_topic

    docs, _ = tiered_docs
    vec_for = {
        "topic 3": [float(x) for x in hash_embed(["topic 3"])[0]],
        "theme 2": [float(x) for x in hash_embed(["theme 2"])[0]],
    }

    def embedder(texts):
        return [vec_for[t] for t in texts]

    parsed = ParsedQuery(shows=["Show 1", "Show 4"], topics=["topic 3", "theme 2"])
    cols = ["doc_id", "video_id", "start_time", "score"]
    runs = [
        sorted(
            tuple(r)
            for r in retrieve_multi_topic(
                docs, "q", parsed, embedder, k=8, deterministic=True
            ).select(*cols).collect()
        )
        for _ in range(2)
    ]
    assert runs[0] == runs[1] and len(runs[0]) == 8


def test_retrieve_tiered_arms_agree_on_all_null_pool(spark, tmp_path_factory):
    """Round-9 high review: a query whose ENTIRE candidate pool
    re-scores NULL (zero-norm docs with nonzero SQ8 reconstructions)
    must stop topping up in BOTH arms — same empty result, no crash,
    no full-round re-scans."""
    import os

    from pyspark.sql import functions as F

    from kfai_pipeline_spark.plans.rag import (
        build_retrieval_index,
        retrieve_tiered,
        retrieve_tiered_batch,
    )

    rows = [
        (
            i,
            f"v{i}",
            0.0,
            "Show 0",
            1_600_000_000,
            "t",
            "txt",
            [0.0] * 8,  # every doc zero-norm: probe pool re-scores NULL
        )
        for i in range(12)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, video_id string, start_time double, show_name string, "
        "published_at long, title string, text string, embedding array<double>",
    )
    idx = os.path.join(str(tmp_path_factory.mktemp("nullpool")), "sq8")
    build_retrieval_index(docs, idx, id_col="doc_id")
    qv = [1.0] * 8
    single = retrieve_tiered(
        docs, qv, ParsedQuery(), k=5, id_col="doc_id", tier="ann",
        index_path=idx, refine=4,
    )
    assert single.count() == 0
    queries = spark.createDataFrame([(0, qv)], "query_id int, embedding array<double>")
    batch = retrieve_tiered_batch(
        docs, queries, ParsedQuery(), k=5, id_col="doc_id", index_path=idx,
        refine=4,
    )
    assert batch.count() == 0


def test_retrieve_tiered_batch_chunked_parity(spark, tiered_docs):
    """Round-11 verdict item #3: max_pending turns the measured
    GEMM-peak chunking rule (BASELINE §5x addendum 2) into behavior.
    Chunked == unchunked rows for BOTH filter shapes — every stage
    partitions by query_id, so concatenation is semantics-free — and
    a NULL query id rides with the first chunk (the shared-filter
    single-pass behavior, preserved)."""
    from kfai_pipeline_spark.plans.rag import retrieve_tiered_batch

    docs, idx = tiered_docs
    texts = [f"topic {i % 7} theme {i % 5} probe {i}" for i in range(6)]
    qvecs = [[float(x) for x in v] for v in hash_embed(texts)]
    cols = ["query_id", "doc_id", "video_id", "start_time", "score"]

    # shared filter, with a NULL query id in the batch
    rows = list(enumerate(qvecs)) + [(None, qvecs[0])]
    queries = spark.createDataFrame(
        rows, "query_id int, embedding array<double>"
    )
    parsed = ParsedQuery(shows=["Show 1", "Show 4"])
    kw = dict(
        k=5, id_col="doc_id", index_path=idx, refine=4, topup_factor=4,
        max_rounds=4,
    )
    one = retrieve_tiered_batch(
        docs, queries, parsed, max_pending=None, **kw
    )
    chunked = retrieve_tiered_batch(docs, queries, parsed, max_pending=2, **kw)
    a = sorted(tuple(r) for r in one.select(*cols).collect())
    b = sorted(tuple(r) for r in chunked.select(*cols).collect())
    assert a == b and len(a) > 0
    # a NULL query id produces no rows in the single-pass arm (the
    # probe kernels key by query_id); chunk routing preserves exactly
    # that — parity above, and no phantom NULL rows in either arm
    assert not any(r[0] is None for r in a)

    # per-query dict filters (each chunk compiles its OWN thinned CASE)
    queries2 = spark.createDataFrame(
        list(enumerate(qvecs)), "query_id int, embedding array<double>"
    )
    per_query = {
        i: ParsedQuery(shows=["Show 1", "Show 4"]) if i % 2 == 0
        else ParsedQuery(topics=[f"topic {i % 7}"])
        for i in range(6)
    }
    one2 = retrieve_tiered_batch(
        docs, queries2, per_query, max_pending=None, **kw
    )
    chunked2 = retrieve_tiered_batch(
        docs, queries2, per_query, max_pending=2, **kw
    )
    a2 = sorted(tuple(r) for r in one2.select(*cols).collect())
    b2 = sorted(tuple(r) for r in chunked2.select(*cols).collect())
    assert a2 == b2 and len(a2) > 0

    # an id the mapping lacks raises inside its chunk, same as one-pass
    with pytest.raises(ValueError, match="no ParsedQuery"):
        retrieve_tiered_batch(
            docs, queries2, {i: per_query[i] for i in range(5)},
            max_pending=2, **kw
        )
