"""RAG query plan (SURVEY.md §3.1): the reference's interactive
``process_query`` path re-expressed as DataFrame motion.

Stage map (ref /root/reference/src/kfai/loaders/agents/query_agent.py):

1. parse        — INJECTED parser (U5; LLM stays external): question ->
                  ParsedQuery(shows/hosts/topics/year terms)
2. compile      — build_filter + compile_filter -> Column predicate
                  (filtering.py:18-123)
3. retrieve     — Spark-side similarity over the chunk-document table
                  (query_agent.py:234-283; per-topic hybrid: ANN score +
                  title/text ILIKE OR-term)
4. post-process — score sort, first-seen dedup on (video_id,
                  start_time), cap k, chronological re-sort
                  (query_agent.py:285-306; W1/W2)
5. synthesize   — INJECTED answerer (U6; external LLM)
6. cite         — semi-join citations x docs on (video_id,
                  int(start_time)), group timestamps, render URLs
                  (query_agent.py:108-221; J6/A4/F14/F21)

LLM calls never touch executor code: parse/synthesize are driver-side
injected callables; everything between them is Spark.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kfai_pipeline_spark.operators.similarity import (
    _as_double,
    _serving_kind,
    cosine,
)
from kfai_pipeline_spark.plans.filter_compiler import (
    _contains_pattern,
    build_filter,
    compile_filter,
)

CONTEXT_COUNT = 120  # ref loaders/utils/config.py:16
TIMESTAMP_BUFFER = 10  # ref loaders/utils/config.py:17

# Host-alias canonicalization map (ref loaders/utils/constants.py:1-22,
# PRIMARY_HOST_MAP). The reference injects it into the parse prompt so
# the LLM emits canonical names; we additionally normalize Spark-side so
# an injected parser that emits an alias ("Parris"/"Paris") still
# filters on the canonical host.
PRIMARY_HOST_MAP: dict[str, str] = {
    "Greg": "Greg Miller",
    "Tim": "Tim Gettys",
    "Nick": "Nick Scarpino",
    "Kevin": "Kevin Coello",
    "Joey": "Joey Noelle",
    "Andy": "Andy Cortez",
    "Barrett": "Barrett Courtney",
    "Blessing": "Blessing Adeoye Jr.",
    "Mike": "Mike Howard",
    "SnowBikeMike": "Mike Howard",
    "Roger": "Roger Pokorny",
    "Parris": "Parris Lilly",
    "Paris": "Parris Lilly",
    "Gary": "Gary Whitta",
    "Fran": "Fran Mirabella III",
    "Janet": "Janet Garcia",
    "Andrea": "Andrea Rene",
    "Tamoor": "Tamoor Hussain",
    "Jared": "Jared Petty",
    "Colin": "Colin Moriarty",
}


def canonicalize_hosts(hosts: list[str]) -> list[str]:
    """Driver-side alias -> canonical mapping for parsed host terms,
    order-preserving and deduplicating ("Mike" and "SnowBikeMike" both
    collapse to one "Mike Howard")."""
    out: list[str] = []
    for h in hosts:
        c = PRIMARY_HOST_MAP.get(h, h)
        if c not in out:
            out.append(c)
    return out


def canonicalize_host_expr(col: Column) -> Column:
    """Spark-side form: alias -> canonical for a host STRING column.

    A 20-entry literal map compiles to a constant available in every
    task — the degenerate (and cheapest) broadcast lookup join: no
    shuffle, no join node, pure expression. For an ARRAY<STRING> hosts
    column wrap it in ``F.transform``."""
    pairs: list[Column] = []
    for k, v in PRIMARY_HOST_MAP.items():
        pairs.extend([F.lit(k), F.lit(v)])
    lookup = F.create_map(*pairs)
    return F.coalesce(lookup.getItem(col), col)


@dataclass
class ParsedQuery:
    """U5 output (ref loaders/utils/types.py:47-87)."""

    shows: list[str] = field(default_factory=list)
    hosts: list[str] = field(default_factory=list)
    topics: list[str] = field(default_factory=list)
    exact_year: int | None = None
    year_range: str | None = None
    before_year: int | None = None
    after_year: int | None = None


@dataclass
class Citation:
    video_id: str
    start_time: float


def metadata_predicate(parsed: ParsedQuery, current_year: int = 2026) -> Column:
    """Stages 2-3a: parsed terms -> one boolean Column. A host term
    matches per host: ``exists(hosts, h -> h LIKE pat)``. The hosts
    list is read through ``split(concat_ws(',', hosts), ',')``, which
    is the element list for the store's ARRAY<STRING> column and the
    split CSV for a CSV-string column — a bare LIKE is a type error on
    the array."""
    pred = compile_filter(
        build_filter(
            shows=parsed.shows,
            exact_year=parsed.exact_year,
            year_range=parsed.year_range,
            before_year=parsed.before_year,
            after_year=parsed.after_year,
            current_year=current_year,
        )
    )
    host_list = F.split(F.concat_ws(",", F.col("hosts")), ",")
    for host in canonicalize_hosts(parsed.hosts):
        pat = _contains_pattern(host)
        pred = pred & F.exists(host_list, lambda h: h.like(pat))
    return pred


def topic_predicate(topics: list[str]) -> Column:
    """The per-topic hybrid OR-term: title/text ILIKE any topic
    (ref query_agent.py:264-271)."""
    if not topics:
        return F.lit(True)
    cond = F.lit(False)
    for t in topics:
        esc = t.replace("%", r"\%").replace("_", r"\_")
        cond = cond | F.col("title").ilike(f"%{esc}%") | F.col("text").ilike(f"%{esc}%")
    return cond


def retrieve(
    docs: DataFrame,
    query_vec: list[float],
    parsed: ParsedQuery,
    k: int = CONTEXT_COUNT,
    vec_col: str = "embedding",
) -> DataFrame:
    """Stages 3-4: filtered similarity retrieval + dedup/top-k/re-sort.

    Score = cosine(embedding, query_vec); the metadata predicate and the
    topic OR-term prune BEFORE scoring (Catalyst pushes both into the
    scan), so at 100 TB the expensive dot product only runs on the
    filtered slice."""
    qv = F.lit(query_vec).cast("array<double>")
    filtered = docs.where(metadata_predicate(parsed)).where(topic_predicate(parsed.topics))
    scored = filtered.withColumn("score", cosine(_as_double(vec_col), qv))
    return _dedup_cap_resort(scored, k)


def _dedup_cap_resort(
    scored: DataFrame,
    k: int,
    deterministic: bool = False,
    id_col: str | None = None,
) -> DataFrame:
    """Stages 4-5 post-processing shared by both retrieval forms:
    first-seen dedup on (video_id, start_time) by score desc (W1), cap
    k, chronological re-sort (W2; ref query_agent.py:285-306).

    ``deterministic`` adds tie-breaks to both the dedup window and the
    cap sort — score ties at the k boundary otherwise resolve by task
    order, which is fine for the reference's serving semantics (any of
    the tied chunks is a valid context row) but not for a hash-checked
    parity row. The WINDOW tie-break must be ``id_col``: the partition
    key (video_id, start_time) is constant inside its own partition,
    so without a discriminator column the winner among equal-score
    same-chunk rows would still flap with task order. The tiered arm
    always passes both so brute and ANN tiers agree row-for-row."""
    order = [F.desc("score")]
    if deterministic:
        order += [F.asc("video_id"), F.asc("start_time")]
        if id_col:
            order.append(F.asc(id_col))
    win_order = order if not (deterministic and id_col) else (
        [F.desc("score"), F.asc(id_col)]
    )
    w = Window.partitionBy("video_id", "start_time").orderBy(*win_order)
    top = (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
        .orderBy(*order)
        .limit(k)
    )
    return top.orderBy("published_at", "video_id", "start_time")


def build_retrieval_index(
    docs: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    kind: str = "sq8",
    n_clusters: int = 16,
    m: int = 8,
    opq_iters: int = 0,
) -> None:
    """Persist the serving-tier ANN index for :func:`retrieve_tiered`.

    ``kind="sq8"`` (default): the SQ8 scalar-quantized codes table
    (operators/similarity.py ``write_sq8_index`` — 1 byte/dim packed
    BINARY + stored norms, partitionable and bandwidth-optimal); the
    probe scans the WHOLE codes table (linear in corpus bytes — right
    up to the scale where 1 byte/dim is still a tractable scan).

    ``kind="ivfpq"``: the q113/X44 partition-pruned index
    (``train_ivfpq`` + ``write_ivfpq_index`` — m bytes/vector residual
    PQ codes partitioned by coarse cluster). The probe opens only
    ~nprobe/n_clusters of the files: the measured 10^10-vector serving
    shape (BASELINE §5p), which a flat scan of any code width cannot
    reach. ``n_clusters``/``m`` size the coarse book and code budget.

    Either kind is built over the UNFILTERED corpus: the index serves
    every query; metadata predicates apply post-probe (see
    retrieve_tiered's filter-ordering note).

    ``opq_iters > 0`` (ivfpq only, X54): train the OPQ residual
    rotation into the index — probes/appends/epochs read it from the
    artifacts; results are identical in the exhaustive-probe regime
    and the operating curve improves on clustered corpora."""
    from kfai_pipeline_spark.operators.similarity import build_ann_index

    build_ann_index(
        docs, path, kind=kind, vec_col=vec_col, id_col=id_col,
        n_clusters=n_clusters, m=m, opq_iters=opq_iters,
    )


def append_retrieval_index(
    docs: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    kind: str = "sq8",
) -> None:
    """Incrementally add ``docs`` to a persisted serving index — the
    daily-ingest shape: the trained artifacts (SQ8 stats / IVFPQ
    coarse book + codebooks) stay frozen and only the delta's codes
    are written (operators/similarity.py ``append_sq8_index`` /
    ``append_ivfpq_index`` document the saturation/drift contracts;
    rebuild cadence is the README decision table's freshness column).
    Parity rows q128/q129: build(A)+append(B) serves row-identically
    to brute over A∪B in the exhaustive-probe regime."""
    _, append = _serving_kind(kind)
    append(docs, path, vec_col=vec_col, id_col=id_col)


def retrieve_tiered(
    docs: DataFrame,
    query_vec: list[float],
    parsed: ParsedQuery,
    k: int = CONTEXT_COUNT,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    tier: str = "auto",
    ann_threshold: int = 2_000_000,
    index_path: str | None = None,
    index_kind: str = "sq8",
    nprobe: int = 4,
    refine: int = 8,
    topup_factor: int = 4,
    max_rounds: int = 4,
    round_to: int = 4,
    scope=None,
) -> DataFrame:
    """Stage-3 retrieval with a serving tier (the reference's stage 4
    IS ANN serving — pgvector, ref query_agent.py:234-283): brute
    cosine over the filtered slice below ``ann_threshold`` corpus rows
    (exact, one narrow scan — right when the slice is small or the
    corpus fits a scan budget), a persisted SQ8 index probe + exact
    re-rank above it (``index_path``; the 10^10-vector posture: the
    corpus-scale read is 1 byte/dim of codes, never the float table).

    Filter ordering: the metadata/topic predicate applies POST-probe —
    the index is built once over the whole corpus, so a per-predicate
    index can't exist; probing k then filtering under-fills when the
    predicate is selective, so the probe TOPS UP (k x topup_factor per
    round, ``max_rounds`` rounds) until k survivors or the index is
    exhausted (probe returned fewer rows than asked: nothing left).
    Pre-filtering instead (brute over the filtered slice) wins when the
    predicate is very selective — that is exactly the brute tier, so
    callers with a known-selective predicate pass ``tier="brute"``.

    ``index_kind`` selects the ANN tier's index: ``"sq8"`` (flat
    1 byte/dim codes scan, :func:`sq8_topk`) or ``"ivfpq"`` (the
    q113/X44 partition-pruned residual-PQ probe, :func:`ivfpq_topk` —
    the corpus-scale shape: only ~``nprobe``/n_clusters of the codes
    files are opened). Both kinds share the same post-probe filter,
    certificate-gated top-up, and exact re-score; ``nprobe`` only
    applies to ivfpq.

    Output matches :func:`retrieve` (doc rows + ``score``), with
    deterministic rounded-score ranking: both tiers rank on
    ``round(cosine, round_to)`` with (video_id, start_time) tie-breaks,
    so in the exhaustive-probe regime the ANN tier is row-identical to
    brute — the oracle-checked parity contract (q121 sq8 / q125 ivfpq).

    Exhaustive-probe caveat (the certificate's scope): the certificate
    is exact ONLY RELATIVE TO THE PROBE'S CANDIDATE POOL — the top
    ``k_probe*refine`` rows by APPROXIMATE score (plus, for ivfpq, the
    ``nprobe`` routing gate). A row outside that pool whose exact
    rounded score beats the cutoff is invisible to the loop, so
    brute-parity is guaranteed only when the pool covers the corpus:
    ``k*refine >= n_rows`` (and ``nprobe >= n_clusters`` for ivfpq).
    The parity rows size ``refine`` from the fixture row count for
    exactly this reason; below full coverage the result is top-k
    relative to the pool and pool recall is the index's operating
    curve (BASELINE §5n/§5p).

    Choosing a tier: README "Serving-tier decision table" — corpus
    size x predicate selectivity x index freshness -> tier, with the
    measured curves each cell rests on.

    ``scope`` (a dedup.CacheScope) takes each probe round's query
    block as a broadcast for deterministic release; without one the
    block rides in the scan closure (similarity._probe_codes).
    """
    if tier not in ("auto", "brute", "ann"):
        raise ValueError(f"unknown retrieval tier: {tier!r}")
    probe, _ = _serving_kind(index_kind)
    if tier == "auto":
        # parquet row-count is metadata-only (footer counts); at serving
        # time the corpus size is known at index-build and callers pass
        # an explicit tier — auto is the notebook-ergonomics path
        use_ann = index_path is not None and docs.count() >= ann_threshold
    elif tier == "ann":
        if index_path is None:
            raise ValueError("tier='ann' needs index_path")
        use_ann = True
    else:
        use_ann = False

    pred = metadata_predicate(parsed) & topic_predicate(parsed.topics)
    qv = F.lit(query_vec).cast("array<double>")
    score = F.round(cosine(_as_double(vec_col), qv), round_to)

    if not use_ann:
        # NULL scores (NULL/zero-norm embeddings) are EXCLUDED — the
        # degenerate-vector contract, and what the ANN tier does
        # structurally (the index never holds them), so the tiers stay
        # row-identical even when the filtered slice underfills k.
        # Chunk-grain frames without an id column fall back to the
        # weaker (video_id, start_time) tie-break — those ARE the row
        # key at chunk grain, so it stays a total order there.
        scored = (
            docs.where(pred)
            .withColumn("score", score)
            .where(F.col("score").isNotNull())
        )
        id_arg = id_col if id_col in docs.columns else None
        return _dedup_cap_resort(scored, k, deterministic=True, id_col=id_arg)
    if id_col not in docs.columns:
        raise ValueError(f"ANN tier needs the index id column {id_col!r} in docs")

    from pyspark.sql.types import StructField, StructType

    from kfai_pipeline_spark.operators.index_lifecycle import resolve_index_path

    spark = docs.sparkSession
    # a lifecycle serving ROOT resolves to its committed serving
    # version; a plain index dir passes through (one FS pointer read,
    # the same cost class as the probe's stats-row collect)
    index_path = resolve_index_path(spark, index_path)
    qdf = spark.createDataFrame(
        [(0, list(map(float, query_vec)))],
        "query_id int, embedding array<double>",
    )
    vectors = docs.select(id_col, vec_col)
    k_probe = k
    while True:
        # collect the candidate list (<= k*topup_factor^max_rounds rows
        # by construction — driver-safe): the stats read, the
        # certificate count, and the final consumer would otherwise
        # each re-run the corpus-scale codes scan (no shared subplans)
        cand_rows = (
            probe(
                spark, index_path, qdf, k_probe, refine, vectors,
                vec_col=vec_col, id_col=id_col, round_to=round_to,
                scope=scope, nprobe=nprobe,
            )
            .select(id_col, "score")
            .collect()
        )
        id_type = docs.schema[id_col].dataType
        cands = spark.createDataFrame(
            [(r[0],) for r in cand_rows],
            StructType([StructField(id_col, id_type)]),
        )
        # probe ids -> doc rows (tiny candidate set, broadcast by
        # construction), THEN the metadata predicate. NULL re-scores
        # drop here too: a zero-norm vector's SQ8 RECONSTRUCTION has
        # nonzero norm (codes quantize toward the corpus min), so it
        # can sneak into the candidate pool and re-score NULL — the
        # same degenerate-vector exclusion as the brute tier.
        hits = (
            docs.join(F.broadcast(cands), id_col)
            .where(pred)
            .withColumn("score", score)
            .where(F.col("score").isNotNull())
        )
        if len(cand_rows) < k_probe or max_rounds <= 1:
            # index exhausted (the probe returned fewer rows than
            # asked: nothing left to top up) or round budget spent
            break
        # NULL re-scores (a zero-norm vector whose SQ8 reconstruction
        # sneaked into the pool — the exclusion comment above) carry no
        # rank information: the cutoff is the weakest REAL score, the
        # same NULL-ignoring min the batch arm's Spark aggregate
        # computes. All-NULL candidates = nothing rankable to top up.
        real_scores = [r[1] for r in cand_rows if r[1] is not None]
        if not real_scores:
            break
        cutoff = min(real_scores)
        # certificate-gated early exit: break only when k survivors
        # score STRICTLY above the probe's weakest returned candidate
        # (rounded domain, same expression both sides) — an unfetched
        # row scores <= the cutoff, so it can neither beat nor TIE any
        # of the k; rounded-tie knife-edges at the boundary (the q07
        # lesson) can't displace the result. Top-k is exact relative to
        # the probe's candidate pool in BOTH exit paths; pool recall is
        # the SQ8 operating curve (BASELINE §5n), and = 1.0 whenever
        # k_probe*refine covers the corpus. DISTINCT (video_id,
        # start_time): the dedup stage collapses same-chunk survivors,
        # so k raw rows above the cutoff may dedup below k.
        n_safe = (
            hits.where(F.col("score") > F.lit(cutoff))
            .select("video_id", "start_time")
            .distinct()
            .count()
        )
        if n_safe >= k:
            break
        k_probe *= topup_factor
        max_rounds -= 1
    return _dedup_cap_resort(hits, k, deterministic=True, id_col=id_col)


def _parsed_pred_key(p: ParsedQuery) -> str:
    """Semantic identity of a ParsedQuery's compiled predicate — the
    grouping key for the batch arm's per-query CASE. Two queries whose
    filter dicts AND topic lists are identical share one CASE branch,
    so the compiled expression scales with the number of distinct
    predicate TEMPLATES in the batch, not the query count (real
    offline-eval sets share a handful of templates across 10^4
    questions)."""
    fdict = build_filter(
        shows=p.shows,
        hosts=canonicalize_hosts(p.hosts),
        exact_year=p.exact_year,
        year_range=p.year_range,
        before_year=p.before_year,
        after_year=p.after_year,
    )
    return repr((fdict, list(p.topics)))


def _per_query_predicate(
    parsed_by_qid: dict, qid: str
) -> tuple[Column, list]:
    """Compile a {query_id value -> ParsedQuery} mapping into ONE
    boolean Column over (doc columns, ``qid``): distinct predicates
    become CASE branches gated by ``qid IN (ids sharing it)``. Unknown
    query ids fall to the ``otherwise(False)`` arm — the caller
    validates the queries frame against the returned known-id list so
    a typo'd mapping raises instead of silently retrieving nothing."""
    groups: dict[str, tuple[ParsedQuery, list]] = {}
    for q, p in parsed_by_qid.items():
        key = _parsed_pred_key(p)
        if key in groups:
            groups[key][1].append(q)
        else:
            groups[key] = (p, [q])
    case = None
    for p, qids in groups.values():
        cond = F.col(qid).isin(qids)
        pred = metadata_predicate(p) & topic_predicate(p.topics)
        case = F.when(cond, pred) if case is None else case.when(cond, pred)
    expr = case.otherwise(F.lit(False)) if case is not None else F.lit(False)
    return expr, list(parsed_by_qid.keys())


def retrieve_tiered_batch(
    docs: DataFrame,
    queries: DataFrame,
    parsed: ParsedQuery | dict,
    k: int = CONTEXT_COUNT,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    index_path: str | None = None,
    index_kind: str = "sq8",
    nprobe: int = 4,
    refine: int = 8,
    topup_factor: int = 4,
    max_rounds: int = 4,
    round_to: int = 4,
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scope=None,
    max_pending: int | None = 1024,
) -> DataFrame:
    """Batched tiered retrieval: per-query rows identical to calling
    :func:`retrieve_tiered` with ``tier="ann"`` once per query, plus a
    leading ``query_id`` column — but shaped for OFFLINE eval (recall
    curves, the X22 classifier, hard-negative mining), where 10^4
    queries through the interactive loop would mean 10^4 x rounds
    driver round-trips and codes scans.

    ``max_pending`` caps how many queries one batch pass serves at
    once: a larger batch is split into chunks of at most this many
    queries, each run through the full top-up loop independently, and
    the results unioned (then re-sorted). The default 1024 sits at the
    MEASURED amortization peak (BASELINE §5x addendum 2: the batch arm
    goes GEMM-bound near ~1k pending queries — 4x1024 chunks beat one
    4096-query pass by 1.5x wall-clock), so 10^4-query evals get the
    faster shape without the caller having read the measurement.
    Chunking is semantics-free: every stage — certificate, top-up,
    dedup/cap windows, per-query CASE predicates — partitions by
    ``query_id``, so chunked == unchunked rows (parity-pinned);
    rows whose query id is NULL ride with the first chunk so the
    single-pass NULL behavior (no output rows under a shared filter —
    the probe kernels key by id; a loud raise under a dict filter) is
    preserved. ``None`` disables chunking (the pre-round-12
    single-pass shape, and what each chunk runs internally).

    Scale shape (the q76/q120 per-batch local top-k pattern): each
    top-up round runs ONE probe over the codes table serving ALL
    still-pending queries (the probe kernel is natively multi-query —
    the query block ships into the scan);
    the candidate frame (<= pending x k_probe rows, id+score only) is
    localCheckpoint-materialized so the certificate stats, the round's
    hits, and the final consumer reuse one scan (Spark shares no
    subplans); the doc join-back broadcasts the DISTINCT candidate id
    set (never a corpus shuffle); and the only driver traffic is the
    O(#queries)-row per-round status frame deciding who tops up.
    Queries satisfying the certificate (or exhausting the index) leave
    the pending set; the rest re-probe at ``k_probe * topup_factor`` —
    per-query probe depth, not a uniform worst case.

    ``parsed`` is either one shared :class:`ParsedQuery` (a recall
    curve over a single corpus slice) or a ``{query_id value ->
    ParsedQuery}`` mapping — the real offline-eval shape, where each
    question carries its own compiled filter (the reference compiles a
    filter per question: ref loaders/utils/filtering.py:18-123 +
    query_agent.py:252-283). Per-query predicates compile to ONE CASE
    expression over ``query_id`` with a branch per DISTINCT predicate
    template (:func:`_per_query_predicate`), applied after the
    candidate join binds ``query_id`` — the corpus is still never
    shuffled and the codes scan stays one-per-round; only the tiny
    candidate frame evaluates the CASE. A query id in ``queries`` with
    no mapping entry raises (never silently retrieves nothing); the
    check is one scan of the small queries frame.

    Same certificate scope as retrieve_tiered: exact only relative to
    each query's probe pool; size ``refine`` (and ``nprobe``) to cover
    the corpus for brute-parity. Degenerate query vectors (NULL /
    zero-norm) produce no output rows — the single-query contract's
    empty frame, batched.

    ``scope`` (a dedup.CacheScope) tracks the per-round checkpointed
    candidate frames and query-block broadcasts for deterministic
    release; without it the frames are freed when the returned frame
    is garbage-collected and the query blocks ride in the scan closure.

    TWIN-SYNC contract: this function re-expresses retrieve_tiered's
    certificate/top-up rules (NULL-ignoring cutoff min, all-NULL pool
    = nothing to top up, strict > certificate, exhaustion on a short
    probe) and _dedup_cap_resort's deterministic windows with query_id
    prepended. Any change to either rule set must land in BOTH arms —
    the q126 oracle and the batch-vs-loop parity tests are the tripwire.
    """
    if index_path is None:
        raise ValueError("retrieve_tiered_batch needs index_path")
    probe, _ = _serving_kind(index_kind)
    if id_col not in docs.columns:
        raise ValueError(f"batched tier needs the index id column {id_col!r}")

    from kfai_pipeline_spark.operators.index_lifecycle import resolve_index_path

    spark = docs.sparkSession
    index_path = resolve_index_path(spark, index_path)
    qid = query_id_col
    if max_pending is not None and max_pending > 0:
        # Cheap probe first (round-13 advice): the common interactive
        # batch is far below max_pending — a LIMIT-ed distinct scan
        # decides whether chunking will happen at all, so the small
        # case pays one early-terminating job instead of a full
        # distinct().collect(). The limit is exact: distinct() emits
        # NULL as one row, and the chunk condition is
        # (#non-null ids + has_null) > max_pending.
        head = (
            queries.select(qid).distinct().limit(max_pending + 1).collect()
        )
        if len(head) > max_pending:
            # O(#queries) driver traffic — the same order as one
            # round's status frame; only the DISTINCT id list travels
            id_rows = queries.select(qid).distinct().collect()
            has_null = any(r[0] is None for r in id_rows)
            # type-stable sort key: mixed-type query ids (e.g. int and
            # str) must not TypeError the chunker — order only needs
            # to be deterministic, not semantic
            ids = sorted(
                (r[0] for r in id_rows if r[0] is not None),
                key=lambda v: (v.__class__.__name__, repr(v)),
            )
            parts: list[DataFrame] = []
            for i in range(0, len(ids), max_pending):
                chunk = ids[i : i + max_pending]
                cond = F.col(qid).isin(chunk)
                if i == 0 and has_null:
                    cond = cond | F.col(qid).isNull()
                # a dict filter thins to this chunk's ids so the CASE
                # compiles per chunk (its cost is per-branch); ids the
                # mapping lacks still raise inside the chunk pass
                sub = (
                    {q: parsed[q] for q in chunk if q in parsed}
                    if isinstance(parsed, dict)
                    else parsed
                )
                parts.append(
                    retrieve_tiered_batch(
                        docs, queries.where(cond), sub, k=k,
                        vec_col=vec_col, id_col=id_col,
                        index_path=index_path, index_kind=index_kind,
                        nprobe=nprobe, refine=refine,
                        topup_factor=topup_factor, max_rounds=max_rounds,
                        round_to=round_to, query_vec_col=query_vec_col,
                        query_id_col=qid, scope=scope, max_pending=None,
                    )
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            # each chunk pass ends ordered; re-assert the contract's
            # global order over the union
            return out.orderBy(qid, "published_at", "video_id", "start_time")
    if isinstance(parsed, dict):
        pred, known_ids = _per_query_predicate(parsed, qid)
        # NULL ids must fail too: ~isin(...) evaluates to NULL for a
        # NULL id, which where() drops — the row would dodge this scan
        # AND the CASE (NULL condition -> otherwise(False)), silently
        # scoring zero recall for that question (round-10 review catch)
        unknown = (
            queries.where(
                F.col(qid).isNull() | ~F.col(qid).isin(known_ids)
            )
            .limit(1)
            .collect()
        )
        if unknown:
            raise ValueError(
                f"query id {unknown[0][qid]!r} has no ParsedQuery in "
                "the per-query filter mapping — every query in the "
                "batch needs its compiled predicate (a missing entry "
                "would otherwise silently retrieve nothing)"
            )
        shared_pred = None
    else:
        shared_pred = metadata_predicate(parsed) & topic_predicate(
            parsed.topics
        )
        pred = shared_pred

    def probe_once(pending: DataFrame, k_probe: int) -> DataFrame:
        out = probe(
            spark, index_path, pending, k_probe, refine,
            docs.select(id_col, vec_col), vec_col=vec_col, id_col=id_col,
            query_vec_col=query_vec_col, query_id_col=qid,
            round_to=round_to, scope=scope, nprobe=nprobe,
        )
        # one materialization serves the status aggregate, the round's
        # hits, AND the final consumer — otherwise each re-runs the
        # corpus codes scan. eager + lineage-truncating; O(q x k_probe)
        # slim rows. The probes NAME their output id column "query_id"
        # regardless of query_id_col (their output contract) — alias it
        # back to the caller's name here.
        cand = out.select(
            F.col("query_id").alias(qid), id_col, "score"
        ).localCheckpoint(eager=True)
        if scope is not None:
            scope.add(cand)
        return cand

    def hits_for(cand: DataFrame) -> DataFrame:
        # candidate ids -> doc rows: distinct ids across queries stay
        # <= q x k_probe (tiny vs corpus), broadcast back onto the doc
        # table, THEN the metadata predicate + NULL re-score exclusion
        # (probe scores are the same rounded exact cosine the
        # single-query arm computes; NULL marks degenerate re-scores).
        # A SHARED predicate applies on the doc slice BEFORE the
        # candidate join (prunes the merge join's build side); the
        # per-query CASE needs query_id bound, so it applies after.
        doc_slice = docs.join(
            F.broadcast(cand.select(id_col).distinct()), id_col
        )
        if shared_pred is not None:
            doc_slice = doc_slice.where(shared_pred)
        out = doc_slice.join(cand.hint("merge"), id_col)
        if shared_pred is None:
            out = out.where(pred)
        return out.where(F.col("score").isNotNull())

    pending = queries.select(
        F.col(qid), F.col(query_vec_col).alias(query_vec_col)
    )
    k_probe = k
    finished: list[DataFrame] = []
    while True:
        cand = probe_once(pending, k_probe)
        hits = hits_for(cand)
        if max_rounds <= 1:
            finished.append(hits)
            break
        # per-query certificate: n_safe = distinct surviving chunks
        # STRICTLY above that query's weakest returned candidate;
        # n_ret < k_probe = index exhausted for that query. Queries
        # absent from cand (degenerate vector, empty index) have
        # nothing to top up — finished with no rows.
        cutoffs = cand.groupBy(qid).agg(
            F.min("score").alias("__cut"), F.count(F.lit(1)).alias("__n_ret")
        )
        safe = (
            hits.join(cutoffs, qid)
            .where(F.col("score") > F.col("__cut"))
            .select(qid, "video_id", "start_time")
            .distinct()
            .groupBy(qid)
            .agg(F.count(F.lit(1)).alias("__n_safe"))
        )
        status = (
            cutoffs.join(safe, qid, "left")
            .select(
                qid,
                "__n_ret",
                F.coalesce("__n_safe", F.lit(0)).alias("__n_safe"),
                "__cut",
            )
            .collect()
        )  # O(#queries) rows — the only driver traffic per round
        # __cut is NULL when a query's ENTIRE pool re-scored NULL
        # (zero-norm reconstructions): nothing rankable to top up —
        # the single-query arm's all-NULL break, per query (a NULL
        # cutoff would otherwise keep the query pending all rounds,
        # re-scanning the codes table for nothing)
        topup_ids = [
            r[0]
            for r in status
            if r[1] >= k_probe and r[2] < k and r[3] is not None
        ]
        if not topup_ids:
            finished.append(hits)
            break
        # keep hits only for queries leaving the pending set this
        # round; topped-up queries take their DEEPER probe's rows
        finished.append(
            hits.join(
                F.broadcast(
                    pending.select(qid).where(~F.col(qid).isin(topup_ids))
                ),
                qid,
                "left_semi",
            )
        )
        pending = pending.where(F.col(qid).isin(topup_ids))
        k_probe *= topup_factor
        max_rounds -= 1
    all_hits = finished[0]
    for h in finished[1:]:
        all_hits = all_hits.unionByName(h)
    # per-query dedup/cap/resort — _dedup_cap_resort's deterministic
    # semantics with query_id prepended to every window/sort key
    w_dedup = Window.partitionBy(qid, "video_id", "start_time").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    w_cap = Window.partitionBy(qid).orderBy(
        F.desc("score"), F.asc("video_id"), F.asc("start_time"), F.asc(id_col)
    )
    return (
        all_hits.withColumn("__rn", F.row_number().over(w_dedup))
        .where(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("__rk", F.row_number().over(w_cap))
        .where(F.col("__rk") <= k)
        .drop("__rk")
        .orderBy(qid, "published_at", "video_id", "start_time")
    )


def retrieve_multi_topic(
    docs: DataFrame,
    question: str,
    parsed: ParsedQuery,
    embedder: Callable[[list[str]], list[list[float]]],
    k: int = CONTEXT_COUNT,
    vec_col: str = "embedding",
    deterministic: bool = False,
    id_col: str | None = None,
    round_to: int = 4,
    tier: str = "brute",
    index_path: str | None = None,
    index_kind: str = "sq8",
    nprobe: int = 4,
    refine: int = 8,
    topup_factor: int = 4,
    max_rounds: int = 4,
) -> DataFrame:
    """Reference-faithful retrieval fan-out (ref query_agent.py:234-306).

    No topics: one filtered search scored against the question
    embedding. With topics: one search PER topic — the hybrid predicate
    narrows to that topic (title/text ILIKE), while the scoring vector
    embeds the OTHER topics joined (or the raw question for a single
    topic), k per branch. Branch results union, then dedup/cap/re-sort.

    Spark shape: each branch is an independent filtered scan (Catalyst
    pushes each branch's predicate down; branches share the scan via
    union) — at scale this is one job with B branches, not B sequential
    store round-trips.

    ``deterministic`` routes every branch through
    :func:`retrieve_tiered` (rounded scores, id tie-breaks, NULL-score
    exclusion — the q121 recipe), making the fan-out oracle-checkable
    (q124) and, with ``tier="ann"``, serving each branch from the
    persisted index: the branch's topic gate becomes the POST-probe
    predicate and the certificate-gated top-up grows the probe until k
    branch survivors — the reference lifecycle's 10^10-vector posture
    end-to-end (q127 re-uses the q124 oracle in the exhaustive-probe
    regime). Per-branch chunk-dedup is included (a no-op whenever
    (video_id, start_time) is unique per row — chunk grain, like the
    reference's store). ``tier`` other than "brute" requires
    ``deterministic=True``: the index probe is rounded-domain by
    construction, so an unrounded ANN fan-out would be a parity trap.
    """
    if tier != "brute" and not deterministic:
        raise ValueError("tier!='brute' requires deterministic=True")
    if not parsed.topics:
        if deterministic:
            return retrieve_tiered(
                docs, embedder([question])[0], parsed, k=k, vec_col=vec_col,
                id_col=id_col or "doc_id", tier=tier, index_path=index_path,
                index_kind=index_kind, nprobe=nprobe, refine=refine,
                topup_factor=topup_factor, max_rounds=max_rounds,
                round_to=round_to,
            )
        return retrieve(docs, embedder([question])[0], parsed, k=k, vec_col=vec_col)

    if deterministic:
        from dataclasses import replace

        # the effective tie-break id: the branches default to doc_id,
        # and the FINAL cross-branch dedup must use the same column —
        # passing the raw (possibly None) id_col through would order
        # the dedup window by partition-constant keys only, and the
        # winner among equal-rounded-score same-chunk rows would flap
        # with task order (round-9 review catch)
        eff_id = id_col or ("doc_id" if "doc_id" in docs.columns else None)
        if tier == "ann":
            # B branches ride the BATCHED arm as (query_id=branch)
            # rows with per-branch predicates (round-10 verdict item
            # #3): ONE codes scan per top-up round serves every
            # branch, and per-branch probe depth still applies — B
            # topics x 10^4 eval questions through the single-query
            # loop would re-open the per-query-scan shape
            # retrieve_tiered_batch exists to kill. Per-branch rows
            # are identical to the loop (the batch arm's twin-sync
            # contract + the q127 oracle), so only the scan count
            # changes.
            branch_queries = []
            per_branch: dict[int, ParsedQuery] = {}
            for i, topic in enumerate(parsed.topics):
                others = [t for t in parsed.topics if t != topic]
                branch_queries.append(", ".join(others) if others else question)
                per_branch[i] = replace(parsed, topics=[topic])
            # ONE embedder call for all branches — the interface is
            # list-in/list-out, and B sequential model round-trips per
            # question would reintroduce on the embedding side the
            # per-call latency the batched arm exists to kill
            branch_rows = [
                (i, [float(x) for x in v])
                for i, v in enumerate(embedder(branch_queries))
            ]
            qdf = docs.sparkSession.createDataFrame(
                branch_rows, "query_id int, embedding array<double>"
            )
            unioned = retrieve_tiered_batch(
                docs,
                qdf,
                per_branch,
                k=k,
                vec_col=vec_col,
                id_col=eff_id or "doc_id",
                index_path=index_path,
                index_kind=index_kind,
                nprobe=nprobe,
                refine=refine,
                topup_factor=topup_factor,
                max_rounds=max_rounds,
                round_to=round_to,
            ).drop("query_id")
            return _dedup_cap_resort(
                unioned, k, deterministic=True, id_col=eff_id
            )
        branches = []
        for topic in parsed.topics:
            others = [t for t in parsed.topics if t != topic]
            branch_query = ", ".join(others) if others else question
            branches.append(
                retrieve_tiered(
                    docs,
                    embedder([branch_query])[0],
                    replace(parsed, topics=[topic]),
                    k=k,
                    vec_col=vec_col,
                    id_col=eff_id or "doc_id",
                    tier=tier,
                    index_path=index_path,
                    index_kind=index_kind,
                    nprobe=nprobe,
                    refine=refine,
                    topup_factor=topup_factor,
                    max_rounds=max_rounds,
                    round_to=round_to,
                )
            )
        unioned = branches[0]
        for b in branches[1:]:
            unioned = unioned.unionByName(b)
        return _dedup_cap_resort(unioned, k, deterministic=True, id_col=eff_id)

    meta = metadata_predicate(parsed)
    branches = []
    for topic in parsed.topics:
        others = [t for t in parsed.topics if t != topic]
        branch_query = ", ".join(others) if others else question
        qv = F.lit(embedder([branch_query])[0]).cast("array<double>")
        branch = (
            docs.where(meta)
            .where(topic_predicate([topic]))
            .withColumn("score", cosine(_as_double(vec_col), qv))
            .orderBy(F.desc("score"))
            .limit(k)  # k per search, as the reference requests per store call
        )
        branches.append(branch)
    unioned = branches[0]
    for b in branches[1:]:
        unioned = unioned.unionByName(b)
    return _dedup_cap_resort(unioned, k)


def retrieve_hybrid_rrf(
    docs: DataFrame,
    terms: list[str],
    query_vec: list[float],
    parsed: ParsedQuery,
    k: int = CONTEXT_COUNT,
    arm_k: int | None = None,
    vec_col: str = "embedding",
    c: int = 60,
) -> DataFrame:
    """Rank-fused hybrid retrieval (X36): the reference gates lexically
    with ILIKE predicates and scores only by vector distance
    (ref query_agent.py:258-283); this arm SCORES both signals — BM25
    over the chunk text and cosine over the embedding — and fuses the
    two top-``arm_k`` lists with Reciprocal Rank Fusion before the
    usual dedup/cap/re-sort. Use when the lexical signal should rank
    (not just filter): rare exact terms, code tokens, names.

    Scale shape: the metadata predicate prunes BOTH arms before any
    scoring (pushed to the scan); each arm reduces to ``arm_k`` rows
    with its own audited plan (bm25: map-side term filter; cosine:
    narrow projection + TakeOrderedAndProject); fusion and the
    attribute join-back touch O(arm_k) rows.
    """
    from kfai_pipeline_spark.operators.bm25 import bm25_topk
    from kfai_pipeline_spark.operators.fusion import rrf_fuse, with_rank

    arm_k = arm_k or max(2 * k, 50)
    # null-SAFE composite key: concat_ws silently skips NULLs, which
    # would collapse all NULL-start_time chunks of a video into one
    # pseudo-document (wrong tf/dl, fused score fanned back out) — the
    # sentinel keeps NULL distinct from any real rendering
    rid = F.concat_ws(
        "|",
        "video_id",
        F.coalesce(F.col("start_time").cast("string"), F.lit("\x00<null>")),
    )
    filtered = docs.where(metadata_predicate(parsed)).withColumn("__rid", rid)
    # lexical arm scores over case-folded, punctuation-separated text so
    # normalized query terms (answer_query lowercases and strips edge
    # punctuation) match 'Zelda,' in the raw chunk — the same leniency
    # the reference's ILIKE topic matching has
    lexable = filtered.withColumn(
        "__text_lc",
        F.regexp_replace(F.lower(F.col("text")), r"[\.,;:!\?'\"\(\)]", " "),
    )
    lex = with_rank(
        bm25_topk(lexable, terms, text_col="__text_lc", id_col="__rid", k=arm_k),
        [F.col("bm25").desc(), F.col("__rid")],
    ).select("__rid", "rank")
    qv = F.lit(query_vec).cast("array<double>")
    vec_scored = (
        filtered.select("__rid", cosine(_as_double(vec_col), qv).alias("score"))
        .orderBy(F.desc("score"), "__rid")
        .limit(arm_k)
    )
    vec = with_rank(
        vec_scored, [F.col("score").desc(), F.col("__rid")]
    ).select("__rid", "rank")
    fused = rrf_fuse([lex, vec], "__rid", k=k, c=c)
    joined = filtered.join(
        fused.select("__rid", F.col("rrf").alias("score")), "__rid"
    ).drop("__rid")
    return _dedup_cap_resort(joined, k)


def cite(
    docs: DataFrame,
    citations: list[Citation],
    buffer_seconds: int = TIMESTAMP_BUFFER,
) -> DataFrame:
    """Stage 6: J6 semi-join of retrieved docs x LLM citations on
    (video_id, int(start_time)), then per-video timestamp grouping (A4)
    and URL/time rendering (F14/F21).

    Buffer semantics match the reference exactly (ref
    query_agent.py:160-181): ``timestamps`` and their display form are
    the RAW cited seconds; only the deep-link URL shifts FORWARD by
    ``buffer_seconds`` (t = start + 10), skipping the lead-in so the
    link lands where the quote starts.

    Returns one row per cited video: (video_id, title, published_at,
    timestamps ARRAY<BIGINT> sorted, formatted ARRAY<STRING>,
    urls ARRAY<STRING>)."""
    from kfai_pipeline_spark.functions.datetime_fns import format_citation_time
    from kfai_pipeline_spark.functions.text import watch_url

    spark = docs.sparkSession
    cited = spark.createDataFrame(
        [(c.video_id, int(c.start_time)) for c in citations],
        "cite_vid string, cite_ts int",
    )
    matched = docs.withColumn(
        "int_start", F.col("start_time").cast("int")
    ).join(
        F.broadcast(cited),
        (F.col("video_id") == F.col("cite_vid")) & (F.col("int_start") == F.col("cite_ts")),
        "left_semi",
    )
    grouped = (
        matched.groupBy("video_id", "title", "published_at")
        .agg(
            F.sort_array(
                F.collect_set(F.col("start_time").cast("int").cast("bigint"))
            ).alias("timestamps")
        )
        .orderBy("published_at", "video_id")
    )
    return grouped.withColumns(
        {
            "formatted": F.transform("timestamps", format_citation_time),
            "urls": F.transform(
                "timestamps",
                lambda t: watch_url(F.col("video_id"), t + buffer_seconds),
            ),
        }
    )


def answer_query(
    docs: DataFrame,
    question: str,
    parser: Callable[[str], ParsedQuery],
    embedder: Callable[[list[str]], list[list[float]]],
    synthesizer: Callable[[str, list[dict]], tuple[str, list[Citation]]],
    k: int = CONTEXT_COUNT,
    retrieval: str = "multi_topic",
    index_path: str | None = None,
    tier: str = "auto",
    ann_threshold: int = 2_000_000,
    id_col: str = "doc_id",
    index_kind: str = "sq8",
    nprobe: int = 4,
    refine: int = 8,
) -> tuple[str, DataFrame]:
    """The full §3.1 lifecycle with injected LLM boundaries. Returns
    (answer_text, sources DataFrame).

    ``retrieval``: ``"multi_topic"`` is the reference-faithful fan-out
    (ILIKE-gated vector search per topic); ``"rrf"`` swaps in the
    rank-fused hybrid arm (X36) — BM25 over the parsed topics as query
    terms fused with the question-embedding cosine ranks — for
    questions where the lexical signal should rank, not just filter;
    ``"tiered"`` serves through :func:`retrieve_tiered` (X50) — brute
    below ``ann_threshold`` corpus rows, the persisted index probe at
    ``index_path`` above it (build with :func:`build_retrieval_index`;
    ``index_kind``/``nprobe`` select SQ8 or the partition-pruned IVFPQ
    probe — README "Serving-tier decision table") — the 10^10-vector
    posture where the reference's stage-4 ANN (pgvector) sits. Topic
    predicates apply post-probe inside the tiered arm, not as
    per-topic fan-out.
    """
    if retrieval not in ("multi_topic", "rrf", "tiered"):
        raise ValueError(f"unknown retrieval strategy: {retrieval!r}")
    parsed = parser(question)
    if retrieval == "tiered":
        context = retrieve_tiered(
            docs,
            embedder([question])[0],
            parsed,
            k=k,
            id_col=id_col,
            tier=tier,
            ann_threshold=ann_threshold,
            index_path=index_path,
            index_kind=index_kind,
            nprobe=nprobe,
            refine=refine,
        )
    elif retrieval == "rrf":
        # BM25 matches whitespace tokens EXACTLY while the topic path
        # matches case-insensitive ILIKE substrings — normalize the
        # terms (lowercase, strip edge punctuation) and score over
        # lowercased text so 'zelda' still hits 'Zelda,'
        raw = [w for t in parsed.topics for w in t.split()] or question.split()
        terms = sorted({w.lower().strip(".,;:!?'\"()") for w in raw} - {""})
        if terms:
            context = retrieve_hybrid_rrf(
                docs, terms, embedder([question])[0], parsed, k=k
            )
        else:
            # Every token normalized away (punctuation-only question/topics):
            # there is no lexical arm to fuse, so fall back to the vector
            # path instead of letting bm25_topk raise mid-lifecycle.
            context = retrieve_multi_topic(docs, question, parsed, embedder, k=k)
    else:
        context = retrieve_multi_topic(docs, question, parsed, embedder, k=k)
    context_rows = [r.asDict() for r in context.collect()]  # ≤ k rows, driver-safe
    answer_text, citations = synthesizer(question, context_rows)
    sources = cite(context, citations)
    return answer_text, sources
