"""Extension correctness queries: sessionization, tumbling windows,
dedup family, similarity search, text analysis (SURVEY.md §2.10-§2.12,
Q25-Q28 + X1-X4).

SQL-expressible ops carry a DuckDB oracle; approximate/hash-based ops
(minhash, simhash, LSH ANN, xxhash fingerprints) are registered without
an oracle — the driver records a rows-only check and tests/ verify their
invariants against exact baselines instead. The three bench queries
here (q25, q26, q28) are Spark-SQL text bound by ``base.bind_sql``, as
in ``relational.py``: the text is their one Spark definition.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kfai_pipeline_spark.catalog import load_table
from kfai_pipeline_spark.operators import dedup as D
from kfai_pipeline_spark.operators import similarity as S
from kfai_pipeline_spark.operators import text_analysis as TA
from kfai_pipeline_spark.operators.asof import asof_join
from kfai_pipeline_spark.queries.base import bind_sql, register

# Per-process scratch salt: queries that materialize side state (q88's
# skip file, q103's bucketed tables) must not share paths across
# concurrent harness runs on the same sf_dir. Everything lands under
# one per-process root that is removed at interpreter exit, so unique
# names don't accumulate in the temp dir across runs.
_SCRATCH_SALT = __import__("uuid").uuid4().hex[:8]


def _scratch_tag(spark, sf_dir: str) -> str:
    """Unique-per-run scratch discriminator: process salt + sf_dir hash."""
    import hashlib

    return f"{_SCRATCH_SALT}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"


def _scratch_root() -> str:
    import atexit
    import os
    import shutil
    import tempfile

    root = os.path.join(tempfile.gettempdir(), f"kfai_scratch_{_SCRATCH_SALT}")
    if not os.path.isdir(root):
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


# ---------------------------------------------------------------- Q25: sessionization
@register(
    "q25",
    oracle="""
    WITH lagged AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM lagged
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, session_id, epoch(MAX(ts)) - epoch(MIN(ts)) AS session_len
        FROM sess GROUP BY user_id, session_id
    )
    SELECT user_id, COUNT(*) AS n_sessions, ROUND(AVG(session_len), 2) AS avg_len
    FROM per_session GROUP BY user_id ORDER BY user_id
    """,
    doc="30-min-gap sessionization, gaps-and-islands batch form (§2.10, Q25).",
)
def q25(spark, sf_dir):
    # events.ts is TIMESTAMP_NTZ, which cannot cast to double: epoch
    # seconds are the µs diff from the naive epoch / 1e6 (sub-second
    # precision), the twin of the oracle's epoch(ts)
    return bind_sql(spark, sf_dir, """
        WITH lagged AS (
            SELECT user_id, ts, event_id,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM {events}
        ),
        flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN prev_ts IS NULL
                             OR timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) / 1e6
                              - timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', prev_ts) / 1e6 > 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM lagged
        ),
        sess AS (
            SELECT user_id, ts,
                   SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_id
            FROM flagged
        ),
        per_session AS (
            SELECT user_id, session_id,
                   MAX(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) / 1e6)
                 - MIN(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) / 1e6) AS session_len
            FROM sess GROUP BY user_id, session_id
        )
        SELECT user_id, COUNT(*) AS n_sessions, ROUND(AVG(session_len), 2) AS avg_len
        FROM per_session GROUP BY user_id ORDER BY user_id
    """)


# ---------------------------------------------------------------- Q26: exact dedup
@register(
    "q26",
    oracle="""
    SELECT lang,
           COUNT(DISTINCT md5(text)) AS n_distinct,
           COUNT(*) AS n_rows
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="Exact dedup stats via md5 hash-groupBy (X1, Q26).",
)
def q26(spark, sf_dir):
    return bind_sql(spark, sf_dir, """
        SELECT lang,
               COUNT(DISTINCT md5(text)) AS n_distinct,
               COUNT(*) AS n_rows
        FROM {documents} GROUP BY lang ORDER BY lang
    """)


# ---------------------------------------------------------------- Q27: similarity top-k
@register(
    "q27",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY score DESC, e.vec_id
    LIMIT 10
    """,
    doc="Brute-force cosine top-10 vs vec_id=0 (X3, Q27); JVM-side zip_with dot product.",
)
def q27(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") != 0)
    topk = S.cosine_topk(corpus, queries, k=10, round_to=4)
    return topk.select("vec_id", "score").orderBy(F.desc("score"), F.asc("vec_id"))


# ---------------------------------------------------------------- Q28: tumbling window
@register(
    "q28",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS cnt,
           ROUND(CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS sum_value
    FROM events
    GROUP BY hour, event_type
    ORDER BY hour, event_type
    """,
    doc="Tumbling hourly window, batch form (§2.10, Q28); streaming twin in streaming/windows.py.",
)
def q28(spark, sf_dir):
    from pyspark.sql.types import TimestampNTZType

    # The hour is make_timestamp_ntz over calendar fields, NOT
    # date_trunc: Spark's date_trunc up-casts NTZ through the session
    # zone, shifting DST-gap wall-clocks an hour (tz_sweep round 7). On
    # a zone-aware ts the calendar extractions would run in the session
    # zone and bring that dependence back, so such an input is refused
    # from the schema alone, before any job runs.
    ts_type = load_table(spark, sf_dir, "events").schema["ts"].dataType
    if not isinstance(ts_type, TimestampNTZType):
        raise TypeError(
            f"q28 needs events.ts as TIMESTAMP_NTZ, got {ts_type}: calendar "
            "extraction on a zone-aware timestamp is session-zone-dependent"
        )
    return bind_sql(spark, sf_dir, """
        SELECT make_timestamp_ntz(year(ts), month(ts), day(ts), hour(ts), 0, 0)
                 AS hour, event_type,
               COUNT(*) AS cnt,
               ROUND(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) / 100.0D, 2)
                 AS sum_value
        FROM {events}
        GROUP BY hour, event_type
        ORDER BY hour, event_type
    """)


# ---------------------------------------------------------------- Q39: general as-of join
@register(
    "q39_asof",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id  AS user_id,
           v.event_id AS view_id,
           v.ts       AS view_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    ORDER BY purchase_id
    """,
    doc=(
        "General backward as-of join (J8, operators.asof): latest prior "
        "view per purchase. Spark form = union + windowed last(ignorenulls) "
        "carry-forward (one shuffle, no per-key Python); oracle = DuckDB's "
        "native ASOF LEFT JOIN."
    ),
)
def q39_asof(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    views = events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("view_ts")
    )
    joined = asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="view_ts",
        value_cols=["view_id", "view_ts"],
    )
    return joined.select("purchase_id", "user_id", "view_id", "view_ts").orderBy(
        "purchase_id"
    )


# ---------------------------------------------------------------- Q40: quality features
@register(
    "q40_quality",
    # punct class: BOTH engines pin the same explicit Unicode word set
    # (letters L, marks M, decimal digits Nd, connector Pc, separators
    # Z, ASCII \s, ZWJ/ZWNJ) — accented/CJK letters and combining
    # marks are NOT punctuation, the right semantics for a
    # multilingual corpus. Java's (?U)\w was rejected: no RE2 class
    # reproduces its Java-only members (gc=No, Other_Alphabetic, NEL),
    # so the operator uses this exact class too. Identical on ASCII;
    # the round-6 unicode sweep caught the original \w divergence and
    # the review pass caught the (?U) edge cases.
    oracle="""
    WITH q AS (
        SELECT doc_id, text, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE length(string_split_regex(trim(text), '[\\s\\x0B]+')) END AS n_tok FROM documents
    )
    SELECT doc_id,
           CAST(n_tok AS INT) AS n_tokens,
           COALESCE(CASE WHEN length(text) > 0 THEN
               ROUND((length(text) - length(regexp_replace(
                          text,
                          '[^\\p{L}\\p{M}\\p{Nd}\\p{Pc}\\p{Z}\\s\\x{000B}\\x{200C}\\x{200D}]',
                          '', 'g'))
                     ) / length(text), 4) END, 0.0) AS punct_ratio,
           COALESCE(CASE WHEN n_tok > 0 THEN
               ROUND(length(list_filter(string_split_regex(trim(text), '[\\s\\x0B]+'),
                            w -> lower(w) IN ('the','and','of','to','a','in','is','that','with','for')
                     )) / n_tok, 4) END, 0.0) AS stopword_ratio
    FROM q
    ORDER BY doc_id
    LIMIT 500
    """,
    doc="Document quality heuristics (X4, operators.text_analysis.quality_features).",
)
def q40_quality(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    feats = TA.quality_features(docs, "text")
    return (
        feats.select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio")
        .orderBy("doc_id")
        .limit(500)
    )


# ---------------------------------------------------------------- text analysis (X4)
@register(
    "q29_tokens",
    oracle="""
    SELECT doc_id,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE length(string_split_regex(trim(text), '[\\s\\x0B]+')) END AS INT) AS n_tokens,
           CAST(length(text) AS INT) AS len_chars
    FROM documents
    ORDER BY doc_id
    LIMIT 500
    """,
    doc="Whitespace token counting per document (X4).",
)
def q29_tokens(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            TA.token_count("text").alias("n_tokens"),
            F.length("text").alias("len_chars"),
        )
        .orderBy("doc_id")
        .limit(500)
    )


@register(
    "q30_corpus",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE length(string_split_regex(trim(text), '[\\s\\x0B]+')) END) AS BIGINT) AS total_tokens,
           ROUND(AVG(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE length(string_split_regex(trim(text), '[\\s\\x0B]+')) END), 2) AS avg_tokens
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
    doc="Per-language corpus token rollup (X4).",
)
def q30_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", TA.token_count("text").alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "q31_bigrams",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split_regex(trim(text), '[\\s\\x0B]+') AS ws FROM documents
    ),
    b AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(length(ws) - 1, 0)),
                   i -> ws[i] || ' ' || ws[i + 1]
               )) AS bigram
        FROM w
    )
    SELECT bigram, COUNT(*) AS cnt
    FROM b
    GROUP BY bigram
    HAVING COUNT(*) >= 5
    ORDER BY cnt DESC, bigram
    LIMIT 100
    """,
    doc="Word-bigram counting via slice+zip_with (X4) — explode-free n-gram build.",
)
def q31_bigrams(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        TA.word_bigrams(docs, "text", "doc_id")
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 5)
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(100)
    )


def _langid_oracle() -> str:
    """DuckDB SQL mirroring TA.lang_id. The argmax-with-tiebreak (highest
    hits, ties -> lexicographically largest lang) is encoded as greatest()
    over zero-padded '%010d hits || lang' strings — lexicographic max on
    that encoding is exactly Spark's array_max over struct(hits, lang).
    Generated from TA.LANG_MARKERS so the lexicons cannot drift."""
    arms = ",\n      ".join(
        "printf('%010d', len(list_filter(words, x -> lower(x) IN ({})))) || '{}'".format(
            ",".join(f"'{m}'" for m in markers), lang
        )
        for lang, markers in sorted(TA.LANG_MARKERS.items())
    )
    return f"""
WITH w AS (
  SELECT doc_id, lang, string_split_regex(trim(coalesce(text, '')), '[\\s\\x0B]+') AS words FROM documents
), s AS (
  SELECT doc_id, lang, greatest(
      {arms}
    ) AS best
  FROM w
)
SELECT doc_id,
  CASE WHEN CAST(substr(best, 1, 10) AS INT) > 0 THEN substr(best, 11) ELSE 'und' END AS pred_lang,
  lang
FROM s ORDER BY doc_id
"""


@register(
    "q32_langid",
    oracle=_langid_oracle(),
    doc="Marker-lexicon language ID (X4), hash-checked vs DuckDB.",
)
def q32_langid(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        TA.lang_id(docs, "text")
        .select("doc_id", "pred_lang", "lang")
        .orderBy("doc_id")
    )


@register(
    "q33_fingerprint",
    oracle=None,  # xxhash64-based winnowing; invariants tested in tests/
    doc="Winnowing document fingerprints (X4); deterministic rows-only check.",
)
def q33_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        TA.fingerprint(docs, "text", "doc_id")
        .select("doc_id", F.size("fingerprint").alias("n_fingerprints"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- dedup family (X1/X2)
@register(
    "q34_minhash",
    oracle=None,  # approx candidate generation; verified vs exact jaccard in tests/
    doc="MinHash+LSH near-dup components (X2); rows-only driver check.",
)
def q34_minhash(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    comps = D.minhash_dedup(docs, "text", "doc_id", shingle_n=3, num_hashes=32, bands=8)
    return comps.orderBy("doc_id")


@register(
    "q35_simhash",
    oracle=None,
    doc="64-bit SimHash signatures + banded hamming candidates (X2); rows-only check.",
)
def q35_simhash(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs, "text", "doc_id").orderBy("doc_id")


@register(
    "q37_chunk_docs",
    oracle=None,  # recursive char-splitting isn't SQL-expressible; invariants in tests/test_chunker.py
    doc="Chunker UDTF over documents (W3/U4): doc text -> overlapping chunks with offsets.",
)
def q37_chunk_docs(spark, sf_dir):
    from pyspark.sql.types import ArrayType, DoubleType, StringType, StructField, StructType

    from kfai_pipeline_spark.operators.chunker import chunk_transcripts, explode_chunks

    docs = load_table(spark, sf_dir, "documents")
    # each document = a single-snippet transcript starting at t=0
    as_snippets = docs.select(
        "doc_id",
        F.array(
            F.struct(
                F.col("text").alias("text"),
                F.lit(0.0).alias("start"),
                F.lit(0.0).alias("duration"),
            )
        ).alias("transcript"),
    )
    chunked = chunk_transcripts(as_snippets, chunk_size=500, chunk_overlap=100)
    grain = explode_chunks(chunked.drop("transcript"), keep_cols=["doc_id"])
    return (
        grain.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.max(F.length("text")).alias("max_chunk_len"),
        )
        .orderBy("doc_id")
    )


@register(
    "q38_embed_pipeline",
    # Full-value oracle: the hash-embed stub is sha256-seeded, and DuckDB
    # replicates it BIT-EXACTLY — ('0x' || substr(sha256(..),1,16))::UBIGINT
    # equals Python's int.from_bytes(digest[:8],'big'), and CAST(.. AS
    # FLOAT) reproduces Arrow's float32 rounding. So the resume-anti-join
    # -> mapInPandas-encode pipeline is value-checked end to end (dim,
    # lane-0 component, lane-weighted checksum, self-cosine), upgrading
    # U2 from rows-only. Lane values: int64(sha256(lane || NUL || text)
    # [:8]) / 2^63 - 1, unit-normalized, stored float32.
    oracle="""
    WITH todo AS (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL
          AND NOT EXISTS (
            SELECT 1 FROM documents d2
            WHERE d2.doc_id % 7 = 0 AND d2.doc_id = documents.doc_id
          )
    ),
    lanes AS (
        SELECT doc_id, lane,
               (('0x' || substr(sha256(lane::VARCHAR || chr(0) || text), 1, 16))::UBIGINT
                 / 9223372036854775808.0) - 1.0 AS v
        FROM todo, (SELECT unnest(range(0, 64)) AS lane)
    ),
    normed AS (
        SELECT doc_id, lane,
               CAST(CAST(v / sqrt(sum(v*v) OVER (PARTITION BY doc_id)) AS FLOAT)
                    AS DOUBLE) AS e
        FROM lanes
    )
    SELECT doc_id,
           count(*)::BIGINT AS dim,
           ROUND(max(CASE WHEN lane = 0 THEN e END), 6) AS lane0,
           ROUND(sum(e * (lane + 1)), 4) AS wsum,
           ROUND(sum(e * e), 4) AS self_cos
    FROM normed
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc=(
        "Embedding pipeline (U2 + I1 resume): anti-join out the "
        "already-embedded set, mapInPandas hash-stub encode, value-check "
        "the vectors against a bit-exact sha256 replica in SQL."
    ),
)
def q38_embed_pipeline(spark, sf_dir):
    from kfai_pipeline_spark.operators.embed import embed_texts
    from kfai_pipeline_spark.operators.pipeline import new_work

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").where(
        F.col("text").isNotNull()
    )
    # resume twin: pretend every doc_id % 7 == 0 is already embedded
    done = docs.where(F.col("doc_id") % 7 == 0)
    emb = embed_texts(new_work(docs, done, "doc_id"))
    emb_d = F.col("embedding").cast("array<double>")
    weighted = F.zip_with(
        emb_d,
        F.sequence(F.lit(1), F.size("embedding")),
        lambda x, i: x * i.cast("double"),
    )
    return emb.select(
        "doc_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.element_at(emb_d, 1), 6).alias("lane0"),
        F.round(
            F.aggregate(weighted, F.lit(0.0), lambda acc, v: acc + v), 4
        ).alias("wsum"),
        F.round(
            F.aggregate(
                F.zip_with(emb_d, emb_d, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            4,
        ).alias("self_cos"),
    ).orderBy("doc_id")


@register(
    "q36_neardup_emb",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(
               CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])
           ), 4) AS score
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(
              CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])
          ), 4) >= 0.55
    ORDER BY id_a, id_b
    """,
    doc="Embedding near-dup pairs, brute-force baseline (X2); LSH path in operators.dedup.",
)
def q36_neardup_emb(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = D.embedding_neardup_pairs(emb, threshold=0.55, use_lsh=False)
    return pairs.orderBy("id_a", "id_b")


# ---------------------------------------------------------------- Q48: n-gram Jaccard
@register(
    "q48_ngram_jaccard",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(coalesce(text, ''), '[\\s\\x0B]+') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w)-2,1)+1)) AS i) t
    ),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1)
    SELECT id_a, id_b,
           ROUND(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter * 1.0 / (sa.sz + sb.sz - n_inter) >= 0.5
    ORDER BY id_a, id_b
    """,
    doc=(
        "Exact word-3-gram Jaccard near-dup pairs >= 0.5 (X2 exact arm; "
        "operators/dedup.py ngram_jaccard_pairs). Inverted-index shingle "
        "join — no cross product; upgrades the n-gram-Jaccard dedup "
        "dimension from rows-only (q34 MinHash approximates this) to "
        "hash-checked."
    ),
)
def q48_ngram_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, text_col="text", id_col="doc_id", n=3, threshold=0.5)
    return pairs.orderBy("id_a", "id_b")


@register(
    "q49_fingerprint_md5",
    # Engine-portable winnowing: same k-gram/window algorithm as q33 but
    # hashed with the shared 60-bit md5 prefix (TA.md5_long), so DuckDB
    # can replay it exactly. Output is order-insensitive summary stats of
    # the fingerprint set (count/min/max) — list_distinct ordering differs
    # between engines, the set itself does not.
    oracle="""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '[\\s\\x0B]+') AS words FROM documents
), kg AS (
  SELECT doc_id,
    list_transform(
      range(1, greatest(len(words) - 4, 1) + 1),
      i -> ('0x' || substr(md5(array_to_string(words[i:i+4], ' ')), 1, 15))::BIGINT
    ) AS kh
  FROM w
), fp AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, greatest(len(kh) - 3, 1) + 1),
      i -> list_min(kh[i:i+3])
    )) AS fingerprint
  FROM kg
)
SELECT doc_id,
  len(fingerprint) AS n_fingerprints,
  list_min(fingerprint) AS fp_min,
  list_max(fingerprint) AS fp_max
FROM fp ORDER BY doc_id
""",
    doc=(
        "Winnowing fingerprint (k=5, window=4) over the portable md5-prefix "
        "hash, hash-checked vs DuckDB; q33 is the same operator on xxhash64 "
        "(faster, JVM-native, rows-only)."
    ),
)
def q49_fingerprint_md5(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    fp = TA.fingerprint(docs, "text", "doc_id", k=5, window=4, hash_fn=TA.md5_long)
    return fp.select(
        "doc_id",
        F.size("fingerprint").alias("n_fingerprints"),
        F.array_min("fingerprint").alias("fp_min"),
        F.array_max("fingerprint").alias("fp_max"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------- Q50: simhash (md5)
_SIMHASH_BITS = 60  # md5_long yields 60 bits (15 hex chars), always >= 0

_Q50_BIT_SUMS = ",\n    ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
    for j in range(_SIMHASH_BITS)
)
_Q50_SIG = " + ".join(
    f"(CASE WHEN b{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END)"
    for j in range(_SIMHASH_BITS)
)


@register(
    "q50_simhash_md5",
    # Same SimHash algorithm as q35 but on the shared portable 60-bit
    # md5-prefix word hash, so DuckDB replays it bit-for-bit. The
    # signature is a sum of distinct powers of two (== bitwise OR).
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '[\\s\\x0B]+') AS words FROM documents
), wh AS (
  SELECT doc_id, ('0x' || substr(md5(u.w), 1, 15))::BIGINT AS h
  FROM w, LATERAL (SELECT unnest(words) AS w) u
), bits AS (
  SELECT doc_id,
    {_Q50_BIT_SUMS}
  FROM wh GROUP BY doc_id
)
SELECT doc_id, {_Q50_SIG} AS simhash
FROM bits ORDER BY doc_id
""",
    doc=(
        "60-bit SimHash over the portable md5-prefix word hash, "
        "hash-checked vs DuckDB (the q49 trick applied to X2's SimHash "
        "arm); q35 is the same operator on xxhash64 (production default, "
        "rows-only)."
    ),
)
def q50_simhash_md5(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.simhash(
        docs, "text", "doc_id", hash_fn=TA.md5_long, n_bits=_SIMHASH_BITS
    )
    return sigs.orderBy("doc_id")


# ---------------------------------------------------------------- Q51: S5 roundtrip
@register(
    "q51_partitioned_roundtrip",
    # The roundtrip is the operator under test: events -> partitioned
    # JSON sink (S5 layout, year=Y/month=MM) -> recursive partitioned
    # read -> partition-column filter -> agg. Hash-checking the agg
    # against DuckDB over the ORIGINAL parquet proves the sink/source
    # pair loses nothing. (Partition PRUNING on a multi-month layout is
    # machine-asserted in tests/test_plan_audit.py — the sf fixtures span
    # one month, so a pruning filter here would be vacuous.)
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS sum_value
    FROM events
    WHERE year(ts) = 2024 AND month(ts) = 1
    GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "S5 partitioned JSON sink + S4 recursive read roundtrip with a "
        "partition-column predicate, hash-checked against the source table."
    ),
)
def q51_partitioned_roundtrip(spark, sf_dir):
    import os

    from kfai_pipeline_spark.sources.video_records import write_partitioned_json

    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.unix_timestamp("ts").alias("epoch"),
    )
    # per-run unique dir (same rationale as q88/q103): a concurrent
    # harness run must never interleave with this overwrite
    out_dir = os.path.join(_scratch_root(), f"kfai_q51_{_scratch_tag(spark, sf_dir)}")
    write_partitioned_json(events, out_dir, epoch_col="epoch")
    back = (
        spark.read.option("recursiveFileLookup", "false")  # partition dirs
        # pinned schema (the S4 contract): schema inference over an
        # empty partition tree fails outright, and a 100 TB pipeline
        # must never infer when it already knows the shape
        .schema(
            "event_id bigint, event_type string, value double, "
            "epoch bigint, year int, month int"
        )
        .json(out_dir)
    )
    return (
        back.where((F.col("year") == 2024) & (F.col("month") == 1))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum(F.round(F.col("value") * 100).try_cast("long")) / 100.0, 2).alias("sum_value"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- Q58: sliding window
@register(
    "q58_sliding_window",
    # 1-hour windows sliding every 15 minutes: each event lands in 4
    # slots. DuckDB generates the 4 candidate window starts per event
    # (truncate to the slide grid, back off k slides) and filters to
    # containment — the relational definition of Spark's window(slide).
    oracle="""
    WITH slotted AS (
        SELECT e.event_type, e.value,
               date_trunc('minute', e.ts)
                 - (EXTRACT(minute FROM e.ts)::INT % 15) * INTERVAL 1 MINUTE
                 - (k.k * 15) * INTERVAL 1 MINUTE AS win_start
        FROM events e, (SELECT unnest(range(0, 4)) AS k) k
    )
    SELECT win_start, event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS sum_value
    FROM slotted
    GROUP BY win_start, event_type
    ORDER BY win_start, event_type
    """,
    doc=(
        "Sliding-window aggregation (§2.10, streaming/windows.py "
        "sliding_window_agg batch arm): 1h duration / 15min slide, "
        "hash-checked against DuckDB's slot-generation twin."
    ),
)
def q58_sliding_window(spark, sf_dir):
    from kfai_pipeline_spark.streaming.windows import sliding_window_agg

    events = load_table(spark, sf_dir, "events")
    out = sliding_window_agg(
        events, duration="1 hour", slide="15 minutes",
        group_cols=["event_type"], value_col="value",
    )
    return out.select(
        F.col("window_start").alias("win_start"),
        "event_type",
        "cnt",
        "sum_value",
    ).orderBy("win_start", "event_type")


# ---------------------------------------------------------------- Q59: salted join
@register(
    "q59_salted_join",
    # Semantics-preservation proof for the skew toolkit: the salted join
    # (hot side salted to 8 reducers, dim replicated 8x) must produce
    # EXACTLY the rows of the plain equi join the oracle runs.
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc=(
        "Salted skew join (operators/partitioning.py salted_join): the "
        "salt/replicate/join/drop pipeline hash-checks against the plain "
        "equi join — skew handling must never change results."
    ),
)
def q59_salted_join(spark, sf_dir):
    from kfai_pipeline_spark.operators.partitioning import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        orders,
        key="o_orderkey",
        n_salts=8,
        salt_source="l_extendedprice",
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0, 2).alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------- Q57: scalar fns
@register(
    "q57_duration_format_roundtrip",
    # F12/F14/F21 checked end-to-end: ISO-8601 duration strings are
    # SYNTHESIZED from lineitem columns, parsed back to seconds by the
    # regexp arithmetic, rendered as h:mm:ss and a deep-link URL. The
    # oracle re-derives the seconds directly from the source columns —
    # so a parse bug can't cancel against a format bug.
    oracle="""
    SELECT l_orderkey, l_linenumber,
           (CAST(l_quantity AS BIGINT) * 3600
            + CAST(l_linenumber AS BIGINT) * 60
            + CAST(l_partkey % 60 AS BIGINT)) AS dur_s,
           printf('%d:%02d:%02d',
                  CAST(l_quantity AS BIGINT),
                  l_linenumber,
                  l_partkey % 60) AS hms,
           'https://www.youtube.com/watch?v=vid' || l_orderkey || '&t='
               || (CAST(l_quantity AS BIGINT) * 3600
                   + CAST(l_linenumber AS BIGINT) * 60
                   + CAST(l_partkey % 60 AS BIGINT)) || 's' AS url
    FROM lineitem
    WHERE l_orderkey < 500
    ORDER BY l_orderkey, l_linenumber
    """,
    doc=(
        "Scalar-function roundtrip (F12 ISO-duration regexp arithmetic, "
        "F14 h:mm:ss rendering, F21 URL format) hash-checked against an "
        "independent arithmetic derivation in DuckDB."
    ),
)
def q57_duration_format_roundtrip(spark, sf_dir):
    from kfai_pipeline_spark.functions.datetime_fns import (
        format_hms,
        iso_duration_to_seconds,
    )
    from kfai_pipeline_spark.functions.text import watch_url

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 500)
    synth = li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat(
            F.lit("PT"),
            F.col("l_quantity").cast("long").cast("string"),
            F.lit("H"),
            F.col("l_linenumber").cast("string"),
            F.lit("M"),
            (F.col("l_partkey") % 60).cast("string"),
            F.lit("S"),
        ).alias("iso_dur"),
        F.concat(F.lit("vid"), F.col("l_orderkey").cast("string")).alias("video_id"),
    )
    parsed = synth.withColumn("dur_s", iso_duration_to_seconds("iso_dur"))
    return parsed.select(
        "l_orderkey",
        "l_linenumber",
        "dur_s",
        format_hms("dur_s").alias("hms"),
        watch_url("video_id", "dur_s").alias("url"),
    ).orderBy("l_orderkey", "l_linenumber")


# ---------------------------------------------------------------- Q56: components
@register(
    "q56_connected_components",
    # The dedup group-assignment core: exact n-gram Jaccard pairs (q48)
    # feed min-label-propagation connected components. DuckDB replays it
    # with a recursive CTE (transitive closure + MIN label — exact);
    # Spark's iterative propagation must converge to the same labels.
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id, string_split_regex(coalesce(text, ''), '[\\s\\x0B]+') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w)-2,1)+1)) AS i) t
    ),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter * 1.0 / (sa.sz + sb.sz - n_inter) >= 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    cc(id, comp) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, c.comp FROM cc c JOIN edges e ON e.src = c.id
    )
    SELECT id AS doc_id, MIN(comp) AS component
    FROM cc GROUP BY id ORDER BY doc_id
    """,
    doc=(
        "Connected components over exact near-dup edges (X2 group "
        "assignment, operators/dedup.py connected_components): iterative "
        "min-label propagation, hash-checked against DuckDB's recursive-"
        "CTE transitive closure."
    ),
)
def q56_connected_components(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, text_col="text", id_col="doc_id", n=3, threshold=0.5)
    comp = D.connected_components(pairs.select("id_a", "id_b"))
    return comp.select(
        F.col("id").alias("doc_id"), "component"
    ).orderBy("doc_id")
_Q55_HASHES = 16

_Q55_MINS = ",\n      ".join(
    f"MIN(('0x' || substr(md5(shingle || '|{i}'), 1, 15))::BIGINT) AS h{i}"
    for i in range(_Q55_HASHES)
)


@register(
    "q55_minhash_md5",
    # Full MinHash signature replayed in DuckDB: same word-3-gram
    # shingling as q48, seeded with a printable '|i' suffix, hashed with
    # the shared portable 60-bit md5 prefix. Completes the dedup family:
    # every signature scheme (MinHash/SimHash/winnowing) now has a
    # hash-checked arm; q34 remains the production xxhash64 pipeline.
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(coalesce(text, ''), '[\\s\\x0B]+') AS words FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
      FROM w, LATERAL (SELECT unnest(range(1, greatest(len(words)-2,1)+1)) AS i) t
    )
    SELECT doc_id,
      {_Q55_MINS}
    FROM sh GROUP BY doc_id ORDER BY doc_id
    """,
    doc=(
        "16-hash MinHash signatures over the portable md5-prefix hash, "
        "hash-checked vs DuckDB (q49/q50 trick applied to X2's MinHash "
        "arm); q34 is the same operator on seeded xxhash64 (production "
        "default, rows-only)."
    ),
)
def q55_minhash_md5(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    shingles = D.word_shingles(docs, "text", "doc_id", n=3)
    sigs = D.minhash_signatures(
        shingles, "doc_id", num_hashes=_Q55_HASHES, hash_fn=TA.md5_long, seed_fmt="|{}"
    )
    return sigs.orderBy("doc_id")


# ---------------------------------------------------------------- Q54: stateful session
@register(
    "q54_sessionize_terminator",
    # The batch arm of the applyInPandasWithState custom stateful
    # operator (streaming/stateful.py): sessions close on a 30-min gap
    # OR a terminating 'purchase' event. Gaps-and-islands with the extra
    # break rule — SQL-expressible, so fully hash-checked; the streaming
    # arm is parity-tested against this exact function.
    oracle="""
    WITH lagged AS (
        SELECT user_id, ts, event_id, event_type,
               lag(ts) OVER w AS prev_ts,
               lag(event_type) OVER w AS prev_ev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN prev_ts IS NULL
                         OR epoch(ts) - epoch(prev_ts) > 1800
                         OR prev_ev = 'purchase'
                    THEN 1 ELSE 0 END AS is_new
        FROM lagged
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, sid,
               epoch(MAX(ts)) - epoch(MIN(ts)) AS session_len,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, sid
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS total_events,
           ROUND(AVG(session_len), 2) AS avg_len
    FROM per_session GROUP BY user_id ORDER BY user_id
    """,
    doc=(
        "Terminator-aware sessionization, batch arm of the custom "
        "stateful operator (applyInPandasWithState twin in "
        "streaming/stateful.py): sessions close on gap OR terminal event."
    ),
)
def q54_sessionize_terminator(spark, sf_dir):
    from kfai_pipeline_spark.streaming.stateful import sessionize_terminator_batch

    events = load_table(spark, sf_dir, "events")
    sessions = sessionize_terminator_batch(
        events, tiebreak_cols=["event_id"]
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            # SUM not AVG: a mean of small integers lands on exact .xx5
            # decimals (e.g. 82/80 = 1.025) where Spark's HALF_UP
            # BigDecimal round and DuckDB's float round disagree — the
            # integer total carries the same information exactly.
            F.sum("n_events").alias("total_events"),
            F.round(F.avg(F.col("end_s") - F.col("start_s")), 2).alias("avg_len"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------- Q52/Q53: multimodal
@register(
    "q52_multimodal_meta",
    # X5's typed-metadata layer over an opaque binary column, made
    # oracle-checkable by deriving the binary from documents.text:
    # byte_len/sha256 must agree with DuckDB's octet_length/sha256 on
    # the same utf-8 bytes.
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           sha256(text) AS sha256
    FROM documents ORDER BY doc_id
    """,
    doc=(
        "Multimodal binary-column metadata (X5, operators/multimodal.py "
        "with_media_metadata): opaque binary payload + JVM-side typed "
        "metadata, hash-checked on byte length and sha256."
    ),
)
def q52_multimodal_meta(spark, sf_dir):
    from kfai_pipeline_spark.operators.multimodal import with_media_metadata

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("content")
    )
    return (
        with_media_metadata(docs)
        .select("doc_id", "byte_len", "sha256")
        .orderBy("doc_id")
    )


@register(
    "q53_multimodal_asr",
    oracle=None,  # stub ASR kernel output is engine-specific (sha-derived);
    # the wav-header kernel and offset arithmetic are unit-tested
    doc=(
        "Multimodal ASR plumbing (X5/U3/S9): binary payload rows through "
        "the mapInPandas transcribe kernel with the W4 chunk-offset shift; "
        "rows-only driver check, deterministic stub."
    ),
)
def q53_multimodal_asr(spark, sf_dir):
    from kfai_pipeline_spark.operators.multimodal import transcribe_audio

    media = (
        load_table(spark, sf_dir, "documents")
        .limit(50)
        .select(
            F.concat(F.lit("doc://"), F.col("doc_id")).alias("path"),
            F.encode("text", "UTF-8").alias("content"),
            (F.col("doc_id") % 3).cast("long").alias("chunk_idx"),
        )
    )
    segs = transcribe_audio(media, chunk_idx_col="chunk_idx")
    return segs.orderBy("path", "chunk_idx", "start")


# ------------------------------------------- Q72: event-time interval join
@register(
    "q72_interval_join",
    oracle="""
    SELECT p.user_id AS user_id,
           p.event_id AS purchase_id,
           v.event_id AS view_id
    FROM events p
    JOIN events v
      ON v.user_id = p.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
    ORDER BY purchase_id, view_id
    """,
    doc=(
        "Event-time interval join (streaming/joins.interval_join, batch "
        "arm): attribute each purchase to same-user views in the "
        "preceding hour. The same function runs as a stream-stream join "
        "with watermarks on both sides — the time-range condition is what "
        "bounds the join state (retention = watermark + interval width); "
        "parity is asserted in test_streaming."
    ),
)
def q72_interval_join(spark, sf_dir):
    from kfai_pipeline_spark.streaming.joins import interval_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    return (
        interval_join(purchases, views, on="user_id", interval="1 hour")
        .select(
            "user_id",
            F.col("l_event_id").alias("purchase_id"),
            F.col("r_event_id").alias("view_id"),
        )
        .orderBy("purchase_id", "view_id")
    )


# ------------------------------------------- Q76: BLAS-arm similarity top-k
@register(
    "q76_simsearch_blas",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY score DESC, e.vec_id
    LIMIT 10
    """,
    doc=(
        "Arrow/BLAS arm of brute-force similarity (similarity."
        "cosine_topk_blas): corpus Arrow batches score ALL queries with "
        "one numpy matmul and emit only local top-k per query, so the "
        "global window shuffles O(k x queries x batches) rows — the "
        "large-query-batch arm (measured 1.8x the JVM-HOF arm at sf1 "
        "with 500 queries; the gap grows with corpus size). Same oracle "
        "as q27; results are bit-identical to the JVM arm."
    ),
)
def q76_simsearch_blas(spark, sf_dir):
    from kfai_pipeline_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") != 0)
    topk = S.cosine_topk_blas(corpus, queries, k=10)
    return topk.select("vec_id", "score").orderBy(F.desc("score"), F.asc("vec_id"))


# --------------------------------------------- Q79: statistical aggregates
@register(
    "q79_stat_aggs",
    oracle="""
    WITH t AS (
        SELECT lang, n_chars,
               CASE WHEN len(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '[\\s\\x0B]+')) END AS n_tok
        FROM documents
    )
    SELECT lang,
           ROUND(corr(n_chars, n_tok), 4) AS corr_chars_tok,
           ROUND(covar_samp(n_chars, n_tok), 2) AS covar_st,
           ROUND(stddev_samp(n_chars), 4) AS sd_chars,
           ROUND(regr_slope(n_tok, n_chars), 6) AS slope_tok_per_char
    FROM t GROUP BY lang ORDER BY lang
    """,
    doc=(
        "Statistical aggregates (A7 completion): per-language Pearson "
        "correlation, sample covariance/stddev, and regression slope of "
        "token count on char count — all single-pass JVM aggregates with "
        "map-side partial moment accumulation (Welford-style merge), one "
        "shuffle on the group key."
    ),
)
def q79_stat_aggs(spark, sf_dir):
    from kfai_pipeline_spark.operators.text_analysis import token_count

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang", "n_chars", token_count("text").alias("n_tok")
    )
    return (
        t.groupBy("lang")
        .agg(
            F.round(F.corr("n_chars", "n_tok"), 4).alias("corr_chars_tok"),
            F.round(F.covar_samp("n_chars", "n_tok"), 2).alias("covar_st"),
            F.round(F.stddev_samp("n_chars"), 4).alias("sd_chars"),
            F.round(F.regr_slope("n_tok", "n_chars"), 6).alias("slope_tok_per_char"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------- Q80: rolling range
@register(
    "q80_rolling_range",
    # Trailing 1-hour per-user event count and spend at event grain —
    # the RANGE-INTERVAL frame twin (W5 covers ROW frames; this is the
    # time-based frame). Both engines frame on the same inclusive
    # [ts - 1h, ts] bound; the Spark arm orders by exact epoch
    # microseconds, which equals ordering by ts.
    oracle="""
    SELECT user_id, event_id,
           COUNT(*) OVER w AS n_1h,
           ROUND(SUM(value) OVER w, 2) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    doc=(
        "Time-range rolling aggregate (operators/rolling.py): trailing "
        "1-hour count/sum per user via a RANGE frame over epoch-micros "
        "ordering — one shuffle on the key, no range self-join."
    ),
)
def q80_rolling_range(spark, sf_dir):
    from kfai_pipeline_spark.operators.rolling import rolling_time_agg

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    out = rolling_time_agg(ev, "user_id", "ts", "value", duration_seconds=3600)
    return out.select(
        "user_id",
        "event_id",
        F.col("roll_n").alias("n_1h"),
        F.round("roll_sum", 2).alias("sum_1h"),
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------- Q82: record merge
@register(
    "q82_merge_records",
    # J3 upgrade from tests-only to hash-checked: enrichment columns win
    # on name collisions (dict-| right bias). The collision is real —
    # o_totalprice recomputed from lineitem prices genuinely differs
    # from orders' stored tax/discount-adjusted total, so a wrong-bias
    # merge cannot hash-match.
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
           ROUND(CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS o_totalprice,
           COUNT(*) AS n_items
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_custkey, o.o_orderstatus
    ORDER BY o.o_orderkey
    """,
    doc=(
        "Map-side record merge (pipeline.merge_records, J3): catalog "
        "rows + enrichment rows by key, enrichment right-bias on "
        "collisions — ref fetch_raw_data.py:88-93 dict-merge semantics."
    ),
)
def q82_merge_records(spark, sf_dir):
    from kfai_pipeline_spark.operators.pipeline import merge_records

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    enrich = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.round(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0, 2).alias("o_totalprice"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    return merge_records(orders, enrich, key="o_orderkey").orderBy("o_orderkey")


# ---------------------------------------------------------------- Q83: LLM clean
@register(
    "q83_llm_clean",
    # U1 upgrade from tests-only to hash-checked: a DETERMINISTIC
    # injected clean_fn (uppercase; raise on chunks starting 'slow')
    # makes the all-or-nothing-per-video contract SQL-expressible —
    # failed videos must surface their ORIGINAL chunks, cleaned videos
    # the transformed ones, verified by md5 over the ordered concat.
    oracle="""
    WITH v AS (SELECT doc_id % 50 AS video_id, doc_id, text FROM documents),
    g AS (
        SELECT video_id,
               NOT bool_or(text LIKE 'slow%') AS clean_ok,
               md5(string_agg(text, '|' ORDER BY text, doc_id)) AS orig_md5,
               md5(string_agg(upper(text), '|' ORDER BY text, doc_id)) AS clean_md5
        FROM v GROUP BY video_id
    )
    SELECT video_id, clean_ok,
           CASE WHEN clean_ok THEN clean_md5 ELSE orig_md5 END AS chunks_md5
    FROM g ORDER BY video_id
    """,
    doc=(
        "LLM cleaning connector (operators/llm_clean.py, U1): "
        "applyInPandas all-or-nothing per video with the deterministic "
        "uppercase stand-in for the injected LLM; failure keeps original "
        "chunks + clean_ok=false (ref clean_locally.py:57-76)."
    ),
)
def q83_llm_clean(spark, sf_dir):
    from kfai_pipeline_spark.operators.llm_clean import clean_chunks_grouped

    def upper_failing(text: str, metadata: dict) -> str:
        if text.startswith("slow"):
            raise ValueError("llm failed on chunk")
        return text.upper()

    docs = load_table(spark, sf_dir, "documents")
    vids = (
        docs.select(
            (F.col("doc_id") % 50).alias("video_id"),
            F.struct(
                F.col("text").alias("text"),
                F.col("doc_id").cast("double").alias("start"),
            ).alias("chunk"),
        )
        .groupBy("video_id")
        .agg(F.sort_array(F.collect_list("chunk")).alias("transcript_chunks"))
    )
    cleaned = clean_chunks_grouped(vids, upper_failing, key="video_id")
    return cleaned.select(
        "video_id",
        "clean_ok",
        F.md5(
            F.concat_ws(
                "|", F.transform("transcript_chunks", lambda c: c["text"])
            )
        ).alias("chunks_md5"),
    ).orderBy("video_id")


# ---------------------------------------------------------------- Q84: funnel
@register(
    "q84_funnel",
    # Ordered-step funnel over the events stream: first view, first
    # click strictly after it, first purchase strictly after that.
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT '1_view' AS stage, COUNT(*) AS n_users FROM s1
    UNION ALL SELECT '2_click', COUNT(*) FROM s2
    UNION ALL SELECT '3_purchase', COUNT(*) FROM s3
    ORDER BY stage
    """,
    doc=(
        "Sequential conversion funnel (events analytics): per-stage "
        "user counts with strict event-time ordering between stages; "
        "three key-partitioned aggregates + equi joins, no window over "
        "the full stream."
    ),
)
def q84_funnel(spark, sf_dir):
    # r14 collapsed the staged form (filter -> groupBy -> join next
    # stage: 3 events scans + 3 exchanges + 2 joins) into ONE events
    # pass. r15 bounds the per-user state: the r14 aggregate
    # collect_list'ed EVERY click/purchase ts of a user into one
    # aggregation-buffer array — a single hot key (bot account, 1e7
    # events at 100 TB) cannot spill or split inside one array cell
    # (guide §5). The stacked conditional window mins below keep the
    # exact same 1 scan + 1 user_id exchange (t2/t3 reference the
    # previous min, so they are sequential Window ops over the SAME
    # partitioning — one exchange, one sort, no extra shuffle), and
    # WindowExec buffers its partition in a SPILLABLE row array, so a
    # hot user costs disk + a straggler task, never an OOM. The
    # per-user groupBy after the windows needs no exchange (grouping
    # key == partitioning key). Results hash-identical (oracle at
    # sf0.001/0.01/0.1); plans/r15/q84_funnel_{before,after}.txt.
    from pyspark.sql.window import Window as _W

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = _W.partitionBy("user_id")
    is_type = lambda t: F.col("event_type") == t  # noqa: E731
    e1 = ev.where(
        F.col("event_type").isin("view", "click", "purchase")
    ).withColumn("t1", F.min(F.when(is_type("view"), F.col("ts"))).over(w))
    e2 = e1.withColumn(
        "t2",
        F.min(
            F.when(is_type("click") & (F.col("ts") > F.col("t1")), F.col("ts"))
        ).over(w),
    )
    e3 = e2.withColumn(
        "t3",
        F.min(
            F.when(is_type("purchase") & (F.col("ts") > F.col("t2")), F.col("ts"))
        ).over(w),
    )
    staged = e3.groupBy("user_id").agg(
        F.max("t1").alias("t1"),  # all rows of a user carry the same
        F.max("t2").alias("t2"),  # window value; max() just picks it
        F.max("t3").alias("t3"),  # without another exchange
    )
    counts = staged.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    return counts.select(
        F.explode(
            F.array(
                F.struct(F.lit("1_view").alias("stage"), F.col("n1").alias("n_users")),
                F.struct(F.lit("2_click").alias("stage"), F.col("n2").alias("n_users")),
                F.struct(F.lit("3_purchase").alias("stage"), F.col("n3").alias("n_users")),
            )
        ).alias("s")
    ).select("s.*").orderBy("stage")


# ---------------------------------------------------------------- Q85: retention
@register(
    "q85_retention",
    # Weekly cohort retention: cohort = week of a user's first event;
    # a user counts in week-offset k if any event falls k calendar
    # weeks after the cohort week. Cohort weeks rendered as strings so
    # both engines agree on the type.
    oracle="""
    WITH f AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
        FROM events GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT e.user_id,
               strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
               datediff('day', f.cohort, date_trunc('week', e.ts)) // 7 AS wk
        FROM events e JOIN f ON e.user_id = f.user_id
    )
    SELECT cohort_week, wk, COUNT(*) AS n_users
    FROM act GROUP BY cohort_week, wk
    ORDER BY cohort_week, wk
    """,
    doc=(
        "Weekly cohort retention (events analytics): first-activity "
        "cohorts x week offsets; one aggregate for cohorts, an equi "
        "join back to events, then a distinct + count — all key-"
        "partitioned, no per-user window."
    ),
)
def q85_retention(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    # r14: cohort via a window min over the same user_id partitioning
    # instead of groupBy + join-back — the join form scanned events
    # twice (once for the cohort aggregate, once as the probe side) and
    # re-shuffled the probe; the window reads events once and pays one
    # user_id exchange (plans/r14/q85_retention_{before,after}.txt).
    from pyspark.sql.window import Window as _W

    cohort = F.date_trunc(
        "week", F.min("ts").over(_W.partitionBy("user_id"))
    )
    act = (
        ev.select(
            "user_id",
            F.date_format(cohort, "yyyy-MM-dd").alias("cohort_week"),
            F.floor(
                F.datediff(
                    F.to_date(F.date_trunc("week", F.col("ts"))),
                    F.to_date(cohort),
                )
                / F.lit(7)
            ).alias("wk"),
        )
        .distinct()
    )
    return (
        act.groupBy("cohort_week", "wk")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "wk")
    )


# ---------------------------------------------------------------- Q86: integrity + DLQ
@register(
    "q86_integrity_deadletter",
    # A6 + I3 upgrade from tests-only to hash-checked: the cleaned side
    # drops over-length chunks (count mismatch) and every 7th video
    # entirely (missing key); integrity_check must flag exactly those,
    # and split_dead_letter must route them.
    oracle="""
    WITH raw AS (
        SELECT doc_id % 40 AS video_id, COUNT(*) AS n_raw
        FROM documents GROUP BY doc_id % 40
    ),
    cln AS (
        SELECT doc_id % 40 AS video_id, COUNT(*) AS n_cleaned
        FROM documents
        WHERE n_chars <= 500 AND (doc_id % 40) % 7 <> 0
        GROUP BY doc_id % 40
    ),
    j AS (
        SELECT COALESCE(r.video_id, c.video_id) AS video_id,
               r.n_raw, c.n_cleaned,
               (r.n_raw IS NOT NULL AND c.n_cleaned IS NOT NULL
                AND r.n_raw = c.n_cleaned) AS ok
        FROM raw r FULL JOIN cln c ON r.video_id = c.video_id
    )
    SELECT CASE WHEN ok THEN 'good' ELSE 'dead' END AS route,
           video_id, n_raw, n_cleaned, ok
    FROM j ORDER BY video_id
    """,
    doc=(
        "Integrity count-equality + dead-letter routing "
        "(pipeline.integrity_check A6, split_dead_letter I3): per-video "
        "raw-vs-cleaned chunk counts full-joined, ok=false routed to the "
        "dead side — ref transformers/utils/helpers.py:38-70."
    ),
)
def q86_integrity_deadletter(spark, sf_dir):
    from kfai_pipeline_spark.operators.pipeline import (
        integrity_check,
        split_dead_letter,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "video_id", F.col("doc_id") % 40
    )
    as_chunks = lambda d: d.groupBy("video_id").agg(  # noqa: E731
        F.collect_list("text").alias("transcript_chunks")
    )
    raw = as_chunks(docs)
    cleaned = as_chunks(
        docs.where((F.col("n_chars") <= 500) & (F.col("video_id") % 7 != 0))
    )
    checked = integrity_check(raw, cleaned, key="video_id")
    good, dead = split_dead_letter(checked, ok_col="ok")
    tag = lambda d, r: d.select(  # noqa: E731
        F.lit(r).alias("route"), "video_id", "n_raw", "n_cleaned", "ok"
    )
    return tag(good, "good").unionAll(tag(dead, "dead")).orderBy("video_id")


# ---------------------------------------------------------------- Q87: composite resume
@register(
    "q87_composite_resume",
    # J5 upgrade from tests-only to hash-checked: resume at the
    # composite (user_id, event_type) grain against work done before
    # the cutoff, with a broadcast skip list on the leading key —
    # db − (processed ∪ skip), ref fetch_raw_data.py:53-67 +
    # build_vector_store.py:78-80.
    oracle="""
    SELECT e.event_type,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e
    WHERE NOT EXISTS (
            SELECT 1 FROM events d
            WHERE d.ts < TIMESTAMP '2024-01-10 00:00:00'
              AND d.user_id = e.user_id AND d.event_type = e.event_type
          )
      AND e.user_id % 31 <> 0
    GROUP BY e.event_type ORDER BY e.event_type
    """,
    doc=(
        "Composite-key resume (pipeline.new_work, J5/J4/I2): left anti "
        "on (user_id, event_type) vs the pre-cutoff done set, then a "
        "broadcast left anti on the user skip list."
    ),
)
def q87_composite_resume(spark, sf_dir):
    from kfai_pipeline_spark.operators.pipeline import new_work

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    done = ev.where(F.col("ts") < F.lit("2024-01-10 00:00:00").cast("timestamp_ntz"))
    skip = (
        ev.select("user_id").where(F.col("user_id") % 31 == 0).dropDuplicates()
    )
    todo = new_work(ev, done, keys=["user_id", "event_type"], skip=skip)
    return (
        todo.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- Q88: skip-list file
@register(
    "q88_skiplist_roundtrip",
    # S6 upgrade from tests-only to hash-checked: the JSON side file is
    # actually written and re-read (save -> load -> broadcast anti), so
    # the persisted control-metadata path itself is what's verified.
    oracle="""
    SELECT lang, COUNT(*) AS n
    FROM documents WHERE doc_id % 17 <> 0
    GROUP BY lang ORDER BY lang
    """,
    doc=(
        "Skip-list side file roundtrip (sources/skip_list.py, S6/I3/P4): "
        "persist failed ids as the reference's JSON array "
        "(ref fetch_raw_data.py:20-39,106-117), reload, filter via "
        "broadcast anti join."
    ),
)
def q88_skiplist_roundtrip(spark, sf_dir):
    import os

    from kfai_pipeline_spark.sources.skip_list import (
        filter_skipped,
        load_skip_set,
        save_skip_set,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("doc_id").cast("string").alias("video_id"), "lang"
    )
    # per-run unique dir (not sf_dir-derived): two concurrent harness
    # runs on the same sf_dir must never share scratch state
    path = os.path.join(
        _scratch_root(), f"kfai_q88_{_scratch_tag(spark, sf_dir)}", "skip.json"
    )
    save_skip_set(docs.where(F.col("doc_id") % 17 == 0).select("video_id"), path)
    skip = load_skip_set(spark, path)
    return (
        filter_skipped(docs, skip)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------- Q89: as-of tolerance
@register(
    "q89_asof_tolerance",
    # J8 extension: pd.merge_asof(tolerance=...)-style bounded lookback.
    # DuckDB has ASOF but no tolerance, so the oracle post-filters the
    # matched timestamp — matched-but-stale rows must surface NULLs,
    # exactly what the Spark arm's post-carry filter produces.
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id  AS user_id,
           CASE WHEN v.ts >= p.ts - INTERVAL 2 HOUR THEN v.event_id END AS view_id,
           CASE WHEN v.ts >= p.ts - INTERVAL 2 HOUR THEN v.ts END AS view_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    ORDER BY purchase_id
    """,
    doc=(
        "As-of join with tolerance (J8+, operators.asof): latest prior "
        "view per purchase only if within 2 hours — the bounded-lookback "
        "form every feature-at-prediction-time pipeline needs. Same "
        "one-shuffle carry-forward plan; tolerance is a post-carry filter."
    ),
)
def q89_asof_tolerance(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    views = events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("view_ts")
    )
    joined = asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="view_ts",
        value_cols=["view_id", "view_ts"], tolerance_seconds=7200,
    )
    return joined.select("purchase_id", "user_id", "view_id", "view_ts").orderBy(
        "purchase_id"
    )


# ---------------------------------------------------------------- Q90: cluster assignment
@register(
    "q90_cluster_assign",
    # Oracle-checks the broadcast-numpy nearest-centroid kernel
    # (similarity.assign_clusters — the IVF/k-means assignment path):
    # 4 FIXED centroids (embeddings vec_id 0..3), every corpus vector
    # assigned to its max-cosine centroid with first-wins tie-break.
    # DuckDB replays it with list_cosine_similarity + a greatest/CASE
    # argmax; per-cluster counts and a membership checksum make the
    # result insensitive to row order but sensitive to every single
    # assignment.
    oracle="""
    WITH cents AS (
        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings WHERE vec_id < 4
    ),
    corpus AS (
        -- ROW grain, not vec_id grain: assign_clusters assigns every
        -- ROW, so a duplicated vec_id must contribute one assignment
        -- per copy (round-7 dup-id sweep; GROUP BY vec_id silently
        -- merged the copies' score sets)
        SELECT row_number() OVER () AS rid, vec_id,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id >= 4
    ),
    scored AS (
        -- zero-norm guard: DuckDB's list_cosine_similarity returns
        -- -1.0 for a zero vector (!); the contract says a zero vector
        -- has no direction and is unassignable (NULL cluster)
        SELECT r.rid, r.vec_id, c.cid,
               CASE WHEN list_inner_product(r.v, r.v) > 0
                    THEN list_cosine_similarity(r.v, c.cv)
               END AS cos
        FROM corpus r, cents c
    ),
    best AS (
        SELECT rid, MIN(vec_id) AS vec_id,
               (SELECT MIN(cid) FROM (
                   SELECT cid, cos FROM scored s2
                   WHERE s2.rid = s.rid
                     AND s2.cos = (SELECT MAX(cos) FROM scored s3 WHERE s3.rid = s.rid)
               )) AS cluster_id
        FROM scored s
        GROUP BY rid
    )
    SELECT cluster_id::BIGINT AS cluster_id,
           COUNT(*)::BIGINT AS n,
           SUM(vec_id)::BIGINT AS id_sum
    FROM best
    GROUP BY cluster_id
    ORDER BY cluster_id
    """,
    doc=(
        "Nearest-centroid assignment (X3 routing kernel, "
        "operators/similarity.py assign_clusters): broadcast-numpy argmax "
        "vs a DuckDB cosine-argmax replay — the hash check that the IVF "
        "rewrite assigns every vector identically to the declarative form."
    ),
)
def q90_cluster_assign(spark, sf_dir):
    from kfai_pipeline_spark.operators.similarity import (
        assign_clusters,
        l2_normalize,
        _as_double,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # 4 fixed centroids: a bounded driver-side collect by construction
    cent_rows = (
        emb.where(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(l2_normalize(_as_double("embedding")).alias("v"))
        .collect()
    )
    centroids = [list(r["v"]) for r in cent_rows]
    corpus = emb.where(F.col("vec_id") >= 4).select(
        "vec_id", l2_normalize(_as_double("embedding")).alias("__v")
    )
    assigned = assign_clusters(corpus, centroids, "__v", "cluster_id")
    return (
        assigned.groupBy(F.col("cluster_id").cast("long").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vec_id").alias("id_sum"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------- Q93: video metadata
@register(
    "q93_multimodal_video",
    # X5's video dimension, oracle-checked end to end: each document
    # becomes a hand-assembled ISO-BMFF payload (ftyp + moov(mvhd v0 +
    # traks)) whose duration/timescale/track-count derive from its own
    # columns; the REAL stdlib box-walk kernel then decodes the binary,
    # and DuckDB recomputes the expected values directly. Any misparse
    # in the box walk (offsets, v0 layout, track recursion) breaks the
    # hash.
    oracle="""
    SELECT doc_id,
           'isom' AS major_brand,
           1000::BIGINT AS timescale,
           ROUND(n_chars / 1000.0, 4) AS duration_s,
           (doc_id % 3 + 1)::BIGINT AS n_tracks
    FROM documents ORDER BY doc_id
    """,
    doc=(
        "Multimodal video metadata (X5, operators/multimodal.py "
        "decode_video_meta): deterministic ISO-BMFF payloads decoded by "
        "the real stdlib box-walk kernel, hash-checked against the "
        "source columns they encode."
    ),
)
def q93_multimodal_video(spark, sf_dir):
    import struct

    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from kfai_pipeline_spark.operators.multimodal import decode_video_meta

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def build(batches):
        import pandas as pd

        def box(btype: bytes, payload: bytes) -> bytes:
            return struct.pack(">I", 8 + len(payload)) + btype + payload

        for pdf in batches:
            if not len(pdf):
                continue  # empty batch would mistype the binary column
            payloads = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                mvhd = box(
                    b"mvhd",
                    b"\x00\x00\x00\x00"
                    + struct.pack(">II", 0, 0)
                    + struct.pack(">II", 1000, int(n_chars))
                    + b"\x00" * 80,
                )
                traks = b"".join(
                    box(b"trak", b"") for _ in range(int(doc_id) % 3 + 1)
                )
                payloads.append(
                    box(b"ftyp", b"isom" + b"\x00" * 8) + box(b"moov", mvhd + traks)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": payloads})

    media = docs.mapInPandas(
        build,
        schema=StructType(
            [StructField("doc_id", LongType()), StructField("content", BinaryType())]
        ),
    ).withColumn("path", F.concat(F.lit("doc://"), F.col("doc_id")))
    meta = decode_video_meta(media, decoder="mp4")
    return (
        meta.withColumn(
            "doc_id", F.regexp_extract("path", r"doc://(\d+)", 1).cast("long")
        )
        .select("doc_id", "major_brand", "timescale", "duration_s", "n_tracks")
        .orderBy("doc_id")
    )


# ------------------------------------------------------ q95: SCD2 history
@register(
    "q95_scd2_history",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM ordered
        WHERE rn = 1 OR event_type IS DISTINCT FROM prev
    )
    SELECT user_id,
           event_type,
           ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
           LEAD(ts) OVER w IS NULL AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, version
    """,
    doc=(
        "Type-2 slowly-changing-dimension build (pipeline.scd2_history, "
        "X32): event stream -> per-key attribute versions with "
        "valid_from/valid_to intervals, version numbers, and is_current "
        "flags. One hash shuffle on the key: the change filter sits "
        "between two windows over the same spec, so Catalyst plans a "
        "single exchange and sort — no self-join (plan-asserted)."
    ),
)
def q95_scd2_history(spark, sf_dir):
    from kfai_pipeline_spark.operators.pipeline import scd2_history

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    return scd2_history(
        ev, "user_id", "event_type", "ts", tiebreak_col="event_id"
    ).orderBy("user_id", "version")


# ---------------------------------------------------------- Q97: SCD1 merge upsert
@register(
    "q97_merge_upsert",
    # Change batch derived deterministically from the snapshot itself:
    # every 13th key is an update (acctbal+100, renamed), every 39th is
    # a delete, every 101st key spawns an insert under key+1000000.
    oracle="""
    WITH changes AS (
        SELECT c_custkey,
               'UPD::' || c_name AS c_name,
               ROUND(c_acctbal + 100, 2) AS c_acctbal,
               c_mktsegment,
               c_custkey % 39 = 0 AS deleted
        FROM customer WHERE c_custkey % 13 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEW::' || c_name,
               CAST(0.0 AS DOUBLE), c_mktsegment, FALSE
        FROM customer WHERE c_custkey % 101 = 0
    )
    SELECT * FROM (
        SELECT b.c_custkey, b.c_name, b.c_acctbal, b.c_mktsegment
        FROM customer b
        WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.c_custkey = b.c_custkey)
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        FROM changes WHERE NOT deleted
    )
    ORDER BY c_custkey
    """,
    doc=(
        "Type-1 MERGE / upsert (pipeline.merge_upsert): apply a "
        "compacted CDC batch onto a snapshot — updates overwrite, "
        "inserts append, delete-flagged keys drop. ANTI + UNION, no "
        "full-outer join and no window; the change keys broadcast, so "
        "the snapshot side NEVER shuffles (the latest-state twin of "
        "q95's SCD2 lineage build; ref fetch_raw_data.py:64-67,88-93 "
        "keeps the same newest-state-per-key semantics imperatively)."
    ),
)
def q97_merge_upsert(spark, sf_dir):
    from kfai_pipeline_spark.operators.pipeline import merge_upsert

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    updates = base.where(F.col("c_custkey") % 13 == 0).select(
        "c_custkey",
        F.concat(F.lit("UPD::"), F.col("c_name")).alias("c_name"),
        F.round(F.col("c_acctbal") + 100, 2).alias("c_acctbal"),
        "c_mktsegment",
        (F.col("c_custkey") % 39 == 0).alias("deleted"),
    )
    inserts = base.where(F.col("c_custkey") % 101 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("NEW::"), F.col("c_name")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
        "c_mktsegment",
        F.lit(False).alias("deleted"),
    )
    merged = merge_upsert(
        base, updates.unionByName(inserts), "c_custkey", delete_col="deleted"
    )
    return merged.orderBy("c_custkey")


# ------------------------------------------------------ Q100: rolling z-score
@register(
    "q100_rolling_zscore",
    # Same inclusive [ts-1h, ts] RANGE frame as q80; z is computed from
    # the UNROUNDED window aggregates on both sides, then rounded at
    # 4dp. Frames under 3 points (or zero variance) yield NULL score
    # and a false flag.
    oracle="""
    SELECT event_id, user_id, value,
           ROUND(avg(value) OVER w, 4) AS roll_mean,
           ROUND(stddev_samp(value) OVER w, 4) AS roll_std,
           ROUND(CASE WHEN count(*) OVER w >= 3 AND stddev_samp(value) OVER w > 0
                      THEN (value - avg(value) OVER w) / stddev_samp(value) OVER w
                 END, 4) AS zscore,
           COALESCE(
               CASE WHEN count(*) OVER w >= 3 AND stddev_samp(value) OVER w > 0
                    THEN abs((value - avg(value) OVER w)
                             / stddev_samp(value) OVER w) > 2.0
               END, FALSE) AS is_anomaly
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
    doc=(
        "Trailing-window anomaly detection (rolling.rolling_zscore): "
        "z-score of each event against its key's own last hour; the "
        "batch twin of streaming metric anomaly alerting. All three "
        "window aggregates and the z arithmetic ride ONE Window "
        "operator over the same epoch-micros RANGE spec — one key "
        "shuffle, no self-join (plan-asserted)."
    ),
)
def q100_rolling_zscore(spark, sf_dir):
    from kfai_pipeline_spark.operators.rolling import rolling_zscore

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = rolling_zscore(
        ev, "user_id", "ts", "value", duration_seconds=3600,
        min_points=3, z_threshold=2.0,
    )
    return out.select(
        "event_id", "user_id", "value",
        "roll_mean", "roll_std", "zscore", "is_anomaly",
    ).orderBy("event_id")


# ------------------------------------------------ Q102: incremental aggregation
@register(
    "q102_incremental_agg",
    # The oracle is the FULL recompute over all events; the Spark arm
    # merges a pre-cutoff aggregate snapshot with the post-cutoff
    # delta's aggregate — hash equality proves incremental maintenance
    # reproduces the from-scratch rollup.
    oracle="""
    SELECT user_id, event_type,
           COUNT(*) AS cnt,
           ROUND(CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS sum_value,
           MAX(ts) AS max_ts
    FROM events
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
    doc=(
        "Incremental aggregate maintenance (pipeline."
        "merge_agg_snapshots, I7): yesterday's materialized rollup + "
        "today's delta aggregate == full recompute, without rescanning "
        "history. Both inputs are key-grain, so the merge shuffles "
        "aggregate rows only — at 100 TB the delta partition is the "
        "only raw data read."
    ),
)
def q102_incremental_agg(spark, sf_dir):
    from kfai_pipeline_spark.operators.pipeline import merge_agg_snapshots

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    cutoff = F.lit("2024-01-10 00:00:00").cast("timestamp_ntz")

    def rollup(d):
        return d.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            # cents-LONG partials: the snapshot merge re-sums these, so
            # exactness must survive BOTH fold layers (the q07 rule)
            F.sum(F.round(F.col("value") * 100).try_cast("long")).alias("sum_value"),
            F.max("ts").alias("max_ts"),
        )

    merged = merge_agg_snapshots(
        rollup(ev.where(F.col("ts") < cutoff)),
        rollup(ev.where(F.col("ts") >= cutoff)),
        ["user_id", "event_type"],
        {"cnt": "sum", "sum_value": "sum", "max_ts": "max"},
    )
    return merged.select(
        "user_id",
        "event_type",
        "cnt",
        F.round(F.col("sum_value") / 100.0, 2).alias("sum_value"),
        "max_ts",
    ).orderBy("user_id", "event_type")


# --------------------------------------------------- Q103: bucketed co-located join
@register(
    "q103_bucketed_join",
    # The oracle is the plain join over the raw views; the Spark arm
    # routes BOTH sides through bucketed external tables first
    # (write_bucketed). Hash equality proves the bucketed path is
    # semantics-preserving; the shuffle-free join property itself is
    # plan-asserted in test_partitioning / test_plan_audit.
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS revenue
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    doc=(
        "Bucketed co-located join (operators/partitioning.py, §4 "
        "'hard parts'): both sides persisted with bucketBy(8, custkey) "
        "+ sortBy, then joined via the catalog — the bucketed scans "
        "emit the join's required hash partitioning, so repeated "
        "large-large joins on the key plan with ZERO exchange (the "
        "100 TB fact-fact amortization; plan-asserted with controlled "
        "sizes in test_partitioning)."
    ),
)
def q103_bucketed_join(spark, sf_dir):
    import os

    from kfai_pipeline_spark.operators.partitioning import (
        bucketed_join_ready,
        write_bucketed,
    )

    # per-run unique scratch dir + table names: concurrent harness runs
    # on the same sf_dir must not collide on the external table paths
    tag = _scratch_tag(spark, sf_dir)
    base = os.path.join(_scratch_root(), f"kfai_q103_{tag}")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    ct, ot = f"kfai_q103_cust_{tag}", f"kfai_q103_ord_{tag}"
    write_bucketed(
        cust, ct, "c_custkey", n_buckets=8, sort_key="c_custkey",
        path=os.path.join(base, "cust"),
    )
    write_bucketed(
        orders.withColumnRenamed("o_custkey", "c_custkey"), ot, "c_custkey",
        n_buckets=8, sort_key="c_custkey", path=os.path.join(base, "ord"),
    )
    joined = bucketed_join_ready(spark, ct, ot, "c_custkey")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0,
                2,
            ).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------- Q104: simhash dedup e2e
@register(
    "q104_simhash_dedup",
    # The full SimHash near-dup pipeline to COMPONENTS (round-4's
    # simhash_dedup, X2), on the portable 60-bit md5 hash so DuckDB can
    # replay it end-to-end. The oracle is deliberately the NAIVE
    # formulation — signatures over every document, ALL pairs within
    # hamming <= 3 (by pigeonhole the banded candidates are exactly this
    # set), recursive-CTE components — so the hash check also proves the
    # Spark arm's exact-duplicate collapse is invisible in the output.
    oracle=f"""
    WITH RECURSIVE w AS (
      SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '[\\s\\x0B]+') AS words FROM documents
    ), wh AS (
      SELECT doc_id, ('0x' || substr(md5(u.w), 1, 15))::BIGINT AS h
      FROM w, LATERAL (SELECT unnest(words) AS w) u
    ), bits AS (
      SELECT doc_id,
        {_Q50_BIT_SUMS}
      FROM wh GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id, {_Q50_SIG} AS simhash FROM bits
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), nodes AS (SELECT DISTINCT src AS id FROM edges),
    cc(id, comp) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.dst, c.comp FROM cc c JOIN edges e ON e.src = c.id
    ), comp AS (
      SELECT id, MIN(comp) AS component FROM cc GROUP BY id
    )
    SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    ORDER BY d.doc_id
    """,
    doc=(
        "SimHash near-dup to components (operators/dedup.py "
        "simhash_dedup): md5-exact-collapse -> 60-bit signatures -> "
        "banded candidates -> hamming<=3 verify -> min-label components, "
        "fanned back to every doc. Hash-checked against DuckDB's naive "
        "all-pairs + recursive-CTE twin, which also proves the collapse "
        "is output-invisible."
    ),
)
def q104_simhash_dedup(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    comp = D.simhash_dedup(
        docs, "text", "doc_id", max_hamming=3, hash_fn=TA.md5_long,
        n_bits=_SIMHASH_BITS,
    )
    return comp.orderBy("doc_id")


# ---------------------------------------------------------------- Q105: incremental index
_Q105_BANDS = 4  # 4 bands x 4 rows over the 16 md5 minhashes
_Q105_BAND_EQ = " OR ".join(
    "(" + " AND ".join(
        f"b.h{band * 4 + r} = c.h{band * 4 + r}" for r in range(4)
    ) + ")"
    for band in range(_Q105_BANDS)
)
_Q105_AGREE = " + ".join(
    f"(CASE WHEN b.h{i} = c.h{i} THEN 1 ELSE 0 END)" for i in range(_Q55_HASHES)
)


@register(
    "q105_neardup_index",
    # X37: incremental near-dup of a NEW batch against a PERSISTED
    # signature index — the daily-crawl-vs-historical-corpus workflow.
    # The Spark arm actually writes the index to parquet and probes the
    # file; DuckDB recomputes both sides' signatures (q55's portable
    # md5 minhash), joins on any-band equality, and scores with the
    # same agreement estimator (k/16 values are exact binary fractions,
    # so the score is bit-portable).
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(coalesce(text, ''), '[\\s\\x0B]+') AS words FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
      FROM w, LATERAL (SELECT unnest(range(1, greatest(len(words)-2,1)+1)) AS i) t
    ), sigs AS (
      SELECT doc_id,
      {_Q55_MINS}
      FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT b.doc_id AS batch_id, c.doc_id AS index_id,
             ({_Q105_AGREE}) / 16.0 AS est
      FROM sigs b JOIN sigs c
        ON ({_Q105_BAND_EQ}) AND b.doc_id <> c.doc_id
      WHERE b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
    )
    SELECT batch_id, COUNT(*) AS n_matches,
           ROUND(MAX(est), 4) AS best_est
    FROM pairs WHERE est >= 0.5
    GROUP BY batch_id ORDER BY batch_id
    """,
    doc=(
        "Incremental near-dup vs a persisted MinHash index (X37, "
        "operators/dedup.py write_minhash_index/neardup_against_index): "
        "historical corpus signed once to parquet, new batch band-joins "
        "the index and scores with the agreement estimator — no "
        "historical text rescans. Hash-checked vs DuckDB recomputing "
        "both arms."
    ),
)
def q105_neardup_index(spark, sf_dir):
    import os

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    path = os.path.join(
        _scratch_root(), f"kfai_q105_{_scratch_tag(spark, sf_dir)}", "minhash_index"
    )
    D.write_minhash_index(
        corpus, path, num_hashes=_Q55_HASHES, hash_fn=TA.md5_long, seed_fmt="|{}"
    )
    matches = D.neardup_against_index(
        batch, path, num_hashes=_Q55_HASHES, bands=_Q105_BANDS,
        est_threshold=0.5, hash_fn=TA.md5_long, seed_fmt="|{}",
    )
    return (
        matches.groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.round(F.max("est_jaccard"), 4).alias("best_est"),
        )
        .orderBy("batch_id")
    )


# ------------------------------------------- Q106: long-doc truncation guard
@register(
    "q106_truncate_longdocs",
    # Prefix truncation with provenance (the skew straggler defense,
    # BASELINE.md §5h): both engines cap at 200 chars and hash the
    # surviving text, so the md5 pins exact prefix semantics
    # (1-based, character-counted substring) across engines.
    oracle="""
    SELECT doc_id,
           length(coalesce(text, '')) AS orig_n_chars,
           length(coalesce(text, '')) > 200 AS was_truncated,
           md5(CASE WHEN length(text) > 200 THEN substr(text, 1, 200)
                    ELSE text END) AS prefix_md5
    FROM documents
    ORDER BY doc_id
    """,
    doc=(
        "Long-document truncation guard (text_analysis.truncate_long_docs): "
        "caps per-doc text at a prefix before per-row text kernels — the "
        "single-task straggler defense for skewed length distributions "
        "(one 32 MB doc tripled the 50k-doc minhash pass, §5h). Keeps "
        "orig_n_chars/was_truncated provenance; hash-checked vs DuckDB "
        "recomputing the same capped prefix."
    ),
)
def q106_truncate_longdocs(spark, sf_dir):
    from kfai_pipeline_spark.operators.text_analysis import truncate_long_docs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = truncate_long_docs(docs, "text", max_chars=200)
    return out.select(
        "doc_id",
        "orig_n_chars",
        "was_truncated",
        F.md5("text").alias("prefix_md5"),
    ).orderBy("doc_id")


# --------------------------------------- Q107: streaming z-score backfill arm
@register(
    "q107_zscore_backfill",
    # The JVM bulk arm (streaming/zscore_bulk.py) drains time-sliced
    # micro-batches through the foreachBatch RANGE-frame fold; the
    # oracle is q100's batch SQL — hash equality proves the epoch-sliced
    # streaming drain reproduces the single-pass batch frame exactly
    # (the backfill parity contract).
    oracle="""
    SELECT event_id, user_id, value,
           ROUND(avg(value) OVER w, 4) AS roll_mean,
           ROUND(stddev_samp(value) OVER w, 4) AS roll_std,
           ROUND(CASE WHEN count(*) OVER w >= 3 AND stddev_samp(value) OVER w > 0
                      THEN (value - avg(value) OVER w) / stddev_samp(value) OVER w
                 END, 4) AS zscore,
           COALESCE(
               CASE WHEN count(*) OVER w >= 3 AND stddev_samp(value) OVER w > 0
                    THEN abs((value - avg(value) OVER w)
                             / stddev_samp(value) OVER w) > 2.0
               END, FALSE) AS is_anomaly
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
    doc=(
        "Streaming z-score BACKFILL (streaming/zscore_bulk.py "
        "rolling_zscore_backfill): the 10M-drain bulk arm — each "
        "micro-batch scored by the batch RANGE-frame kernel against a "
        "duration-bounded per-key tail snapshot, exactly-once via "
        "rollup-style version monotonicity, 8x the custom-state drain "
        "(BASELINE.md §5f). The query slices events into 3 time-ordered "
        "epochs, drains them AvailableNow, and returns the per-event "
        "scores — hash-checked vs the single-pass batch SQL."
    ),
)
def q107_zscore_backfill(spark, sf_dir):
    import os

    from kfai_pipeline_spark.functions.datetime_fns import epoch_micros_fn
    from kfai_pipeline_spark.streaming.zscore_bulk import rolling_zscore_backfill

    cols = ["event_id", "user_id", "ts", "value"]
    ev = load_table(spark, sf_dir, "events").select(*cols)
    root = os.path.join(
        _scratch_root(), f"kfai_q107_{_scratch_tag(spark, sf_dir)}"
    )
    src = os.path.join(root, "src")
    done_marker = os.path.join(root, "_DONE")
    if not os.path.exists(done_marker):
        micros = epoch_micros_fn(ev, "ts")
        ev_us = ev.withColumn("__us", micros(F.col("ts")))
        bounds = [
            r[0]
            for r in ev_us.selectExpr(
                "percentile(__us, array(0.34, 0.67)) AS p"
            ).selectExpr("explode(p)").collect()
        ]
        if len(bounds) < 2 or bounds[0] is None:
            # empty events: percentile over nothing has no split points
            # — drain one (empty) epoch instead of crashing on bounds[0]
            slices = [ev_us, ev_us.limit(0), ev_us.limit(0)]
        else:
            slices = [
                ev_us.where(F.col("__us") <= bounds[0]),
                ev_us.where(
                    (F.col("__us") > bounds[0]) & (F.col("__us") <= bounds[1])
                ),
                ev_us.where(F.col("__us") > bounds[1]),
            ]
        # sequential writes: the file source triggers in modification-time
        # order, so epoch order == time order (the parity precondition:
        # per-key event time non-decreasing ACROSS micro-batches)
        for i, sl in enumerate(slices):
            sl.select(*cols).coalesce(1).write.mode("overwrite").parquet(
                f"{src}/f{i}"
            )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*")
        )
        q = rolling_zscore_backfill(
            stream,
            os.path.join(root, "out"),
            os.path.join(root, "state"),
            os.path.join(root, "ckpt"),
            duration_seconds=3600,
            min_points=3,
            z_threshold=2.0,
        )
        q.awaitTermination()
        # completion marker AFTER the full drain: a crashed partial run
        # must re-drain (the checkpoint resumes it), never be served as
        # if it were the whole result
        with open(done_marker, "w") as f:
            f.write("done")
    import glob as _glob

    out_cols = (
        "event_id bigint, user_id bigint, value double, roll_mean double, "
        "roll_std double, zscore double, is_anomaly boolean"
    )
    if _glob.glob(os.path.join(root, "out", "batch_*")):
        scored = spark.read.parquet(os.path.join(root, "out", "batch_*"))
    else:
        # a fully-empty drain commits no batch dirs — an empty result
        # with the contract schema, not a missing-path read error
        scored = spark.createDataFrame([], out_cols)
    return scored.select(
        "event_id", "user_id", "value",
        "roll_mean", "roll_std", "zscore", "is_anomaly",
    ).orderBy("event_id")


# --------------------------------------- Q110: int8-quantized ANN + re-rank
@register(
    "q110_quantized_ann",
    # Int8 scalar quantization (Faiss SQ8): codes are EXACT integers in
    # both engines (floor(x+0.5) of identical doubles — round() would
    # diverge on half ties), so the candidate cut is deterministic; the
    # approx/exact cosines follow the q27 list_cosine_similarity
    # contract, rounded 4dp, ordered by the UNROUNDED scores.
    oracle="""
    WITH corpus AS (
        -- NULL embeddings are excluded by contract (the Spark arm's
        -- NULL cosine filter); a NULL element would also error
        -- DuckDB's list_cosine_similarity outright. ROW grain (rid):
        -- the Spark arm quantizes every ROW, so a duplicated vec_id
        -- contributes one code row per copy (round-7 dup-id sweep —
        -- GROUP BY vec_id merged two copies into one 128-long list
        -- and errored list_cosine_similarity)
        SELECT row_number() OVER () AS rid, vec_id,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id <> 0 AND embedding IS NOT NULL
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    dims AS (
        SELECT generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM corpus
    ),
    st AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM dims GROUP BY pos),
    cx AS (
        SELECT c.rid, c.vec_id, s.pos,
               CASE WHEN s.mx > s.mn
                    THEN floor((c.v[s.pos] - s.mn) / (s.mx - s.mn) * 255 + 0.5)
                    ELSE 0 END AS code,
               s.mn, s.mx
        FROM corpus c CROSS JOIN st s
    ),
    recon AS (
        SELECT rid, MIN(vec_id) AS vec_id,
               list(mn + code * (mx - mn) / 255 ORDER BY pos) AS xhat
        FROM cx GROUP BY rid
    ),
    approx AS (
        SELECT r.rid, r.vec_id,
               list_cosine_similarity(r.xhat, q.qv) AS a_raw
        FROM recon r CROSS JOIN q
    ),
    cands AS (
        SELECT rid, vec_id, a_raw,
               ROW_NUMBER() OVER (ORDER BY a_raw DESC, vec_id) AS rn
        FROM approx
    ),
    exact AS (
        -- join by vec_id (NOT rid), replicating the Spark re-rank's
        -- id-keyed join: duplicate ids produce the same hybrid
        -- (candidate x copy) rows in both engines
        SELECT c.vec_id, c.a_raw,
               list_cosine_similarity(co.v, q.qv) AS s_raw
        FROM cands c
        JOIN corpus co USING (vec_id) CROSS JOIN q
        WHERE c.rn <= 40
    )
    SELECT vec_id, ROUND(a_raw, 4) AS approx_score, ROUND(s_raw, 4) AS score
    FROM exact
    ORDER BY s_raw DESC, vec_id LIMIT 10
    """,
    doc=(
        "Int8 scalar-quantized ANN with exact re-rank (similarity."
        "quantized_topk, X42; Faiss SQ8, arXiv:1702.08734): stage 1 "
        "scans the 4x-smaller codes table (bandwidth IS the cost of a "
        "100 TB brute-force candidate pass) against the full-precision "
        "query, keeps top k*refine; stage 2 re-ranks the survivors "
        "against the full-precision vectors. Per-dim codebook and "
        "queries ride broadcasts; codes pinned bit-exact cross-engine."
    ),
)
def q110_quantized_ann(spark, sf_dir):
    from kfai_pipeline_spark.operators.similarity import quantized_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") != 0)
    out = quantized_topk(corpus, q, k=10, refine=4)
    return out.select("vec_id", "approx_score", "score")


# --------------------------------- Q111: SQ8 persisted-index roundtrip
@register(
    "q111_sq8_index",
    # Rows-only BY DESIGN (oracle=None): the production SQ8 arm scans a
    # PACKED-byte persisted index with a numpy matmul kernel whose
    # float reassociation differs in ulps from any SQL fold — a strict
    # hash oracle would be a knife-edge, and the SEMANTICS are already
    # hash-checked three ways by q110 (the expression arm: bit-exact
    # codes, identical fold order). The hash-checked twin contract:
    # tests/test_similarity_ivf.py asserts this pipeline's output EQUALS
    # q110's on the same corpus. What this row adds to the driver loop
    # is the index lifecycle: write (stats + packed codes + norms) →
    # read → kernel probe → broadcast exact re-rank, executed fresh
    # each round.
    oracle=None,
    doc=(
        "SQ8 persisted-index roundtrip (similarity.write_sq8_index + "
        "sq8_topk, X42 production arm): writes the packed-byte index "
        "to scratch, probes it with the linear-form uint8 matmul "
        "kernel, re-ranks exactly against the full-precision table. "
        "5.3x the brute BLAS scan at 10M vectors (BASELINE.md "
        "§5g-addendum 3). Rows-only; hash-checked twin = q110."
    ),
)
def q111_sq8_index(spark, sf_dir):
    import os

    from kfai_pipeline_spark.operators.similarity import (
        sq8_topk,
        write_sq8_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") != 0)
    root = os.path.join(
        _scratch_root(), f"kfai_q111_{_scratch_tag(spark, sf_dir)}"
    )
    idx = os.path.join(root, "sq8")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        write_sq8_index(corpus, idx)
        with open(done, "w") as fh:
            fh.write("ok")
    q = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    out = sq8_topk(spark, idx, q, k=10, refine=4, vectors=corpus)
    return out.select("vec_id", "approx_score", "score")


# --------------------------------------- Q112: PQ (ADC) index roundtrip
@register(
    "q112_pq_index",
    # Rows-only BY DESIGN (the q111 rationale): PQ training is
    # iterative numpy k-means and the ADC kernel's float reassociation
    # differs in ulps from any SQL fold — no honest hash oracle exists.
    # The contracts are test-pinned instead: layout-invariant training
    # (hash-ordered sample), full-refine output EQUALS brute-force
    # top-k, empty-corpus schema guard (test_similarity_ivf). What the
    # driver row adds: the full index lifecycle — train -> encode to
    # m-byte packed codes -> save/load codebooks -> ADC probe ->
    # broadcast exact re-rank — executed fresh each round.
    oracle=None,
    doc=(
        "Product-quantization ANN (similarity.pq_topk, X43; Jégou et "
        "al. 2011): 8 uint8 codes/vector (32x smaller than float32), "
        "per-query LUT + gather-sum ADC scan, exact re-rank. "
        "Rows-only; contracts pinned by tests incl. full-refine "
        "equality with brute force."
    ),
)
def q112_pq_index(spark, sf_dir):
    import os

    from kfai_pipeline_spark.operators.similarity import (
        pq_topk,
        save_pq_index,
        train_pq_codebooks,
        write_pq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") != 0)
    root = os.path.join(
        _scratch_root(), f"kfai_q112_{_scratch_tag(spark, sf_dir)}"
    )
    idx = os.path.join(root, "pq")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        books = train_pq_codebooks(corpus, m=8, n_codes=64)
        write_pq_index(corpus, idx, books)
        save_pq_index(spark, idx, books)
        os.makedirs(root, exist_ok=True)
        with open(done, "w") as fh:
            fh.write("ok")
    q = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    out = pq_topk(spark, idx, q, k=10, refine=8, vectors=corpus)
    return out.select("vec_id", "approx_dot", "score")


# ---------------------------------- Q113: IVFPQ index lifecycle (X44)
@register(
    "q113_ivfpq_index",
    # Rows-only BY DESIGN (the q112 rationale): coarse + residual-PQ
    # training is iterative numpy k-means and the ADC kernel's float
    # reassociation differs in ulps from any SQL fold — no honest hash
    # oracle exists. Contracts are test-pinned instead
    # (test_similarity_ivf): full-probe/full-refine output EQUALS
    # brute-force top-k, partition-level pruning asserted on the plan,
    # layout-invariant training, degenerate/empty schemas. What the
    # driver row adds: the full production lifecycle — distributed
    # coarse k-means -> residual PQ train -> encode to m-byte packed
    # codes PARTITIONED by cluster -> route -> pruned ADC probe ->
    # broadcast exact re-rank — executed fresh each round.
    oracle=None,
    doc=(
        "IVFPQ ANN (similarity.ivfpq_topk, X44; Jégou et al. 2011 §V — "
        "the Faiss IVFx,PQy production index): coarse routing prunes to "
        "nprobe/n_clusters of the parquet partitions, the scan reads m "
        "bytes/vector of RESIDUAL codes (32x smaller than float32), "
        "exact re-rank on a broadcast candidate set. Rows-only; "
        "hash-checked twin = brute-force equality test."
    ),
)
def q113_ivfpq_index(spark, sf_dir):
    import os

    from kfai_pipeline_spark.operators.similarity import (
        ivfpq_topk,
        train_ivfpq,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") != 0)
    root = os.path.join(
        _scratch_root(), f"kfai_q113_{_scratch_tag(spark, sf_dir)}"
    )
    idx = os.path.join(root, "ivfpq")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        cents, books = train_ivfpq(corpus, n_clusters=8, m=8, n_codes=64)
        write_ivfpq_index(corpus, idx, cents, books)
        os.makedirs(root, exist_ok=True)
        with open(done, "w") as fh:
            fh.write("ok")
    q = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    # nprobe=6/8 with refine=8: the approximate serving regime (the
    # exhaustive regime is covered by the brute-force equality test)
    out = ivfpq_topk(spark, idx, q, k=10, nprobe=6, refine=8, vectors=corpus)
    return out.select("vec_id", "approx_dot", "score")


# ------------------------------- Q114: salt-by-time rolling arm (§5o)
@register(
    "q114_rolling_bucketed",
    # EXACTLY q80's oracle: the salt-by-time hot-key arm must be
    # indistinguishable from the plain single-window RANGE frame — the
    # oracle-checked proof that the skew defense is semantics-free.
    # (BASELINE.md §5o: a 50%-hot key costs 41x in one task on the
    # plain window; this arm splits it across time buckets for 2x rows.)
    oracle="""
    SELECT user_id, event_id,
           COUNT(*) OVER w AS n_1h,
           ROUND(SUM(value) OVER w, 2) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    doc=(
        "Hot-key salt-by-time arm of the rolling RANGE aggregate "
        "(rolling.rolling_time_agg bucket_seconds; §5o): rows explode "
        "into (own bucket, next bucket as frame context), the window "
        "partitions on (key, time-bucket), context rows drop after "
        "scoring — one scan, one exchange, exact q80 semantics, and a "
        "10^8-event bot user parallelizes across its buckets instead "
        "of serializing into one WindowExec task."
    ),
)
def q114_rolling_bucketed(spark, sf_dir):
    from kfai_pipeline_spark.operators.rolling import rolling_time_agg

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    out = rolling_time_agg(
        ev, "user_id", "ts", "value", duration_seconds=3600,
        bucket_seconds=3600,
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("roll_n").alias("n_1h"),
        F.round("roll_sum", 2).alias("sum_1h"),
    ).orderBy("user_id", "event_id")


# --------------------------------- Q115: Bloom-pruned decontamination (X45)
@register(
    "q115_bloom_decontam",
    # EXACTLY q61's oracle (same split, n, threshold): the Bloom prune
    # only narrows what reaches the exact verify join, so the arm must
    # be bit-identical to the broadcast-exact arm — the oracle-checked
    # proof that the prune is semantics-free (the q114/q80 pattern).
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(text, '[\\s\\x0B]+') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w)-2,1)+1)) AS i) t
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
    corpus AS (SELECT * FROM sh WHERE doc_id % 10 <> 0),
    tot AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY 1),
    ov AS (
        SELECT c.doc_id, count(*) AS n_overlap
        FROM corpus c JOIN bench b ON c.shingle = b.shingle
        GROUP BY 1
    )
    SELECT t.doc_id,
           t.n_shingles,
           COALESCE(o.n_overlap, 0) AS n_overlap,
           ROUND(COALESCE(o.n_overlap, 0) * 1.0 / t.n_shingles, 4) AS ratio,
           COALESCE(o.n_overlap, 0) * 1.0 / t.n_shingles >= 0.2 AS contaminated
    FROM tot t LEFT JOIN ov o ON o.doc_id = t.doc_id
    ORDER BY t.doc_id
    """,
    doc=(
        "Bloom-pruned exact decontamination (decontaminate."
        "contamination_bloom, X45): for benchmark n-gram sets too large "
        "to broadcast exactly, a broadcast Bloom bitmap (JVM-side "
        "xxhash64 positions, vectorized numpy bit test) drops ~99% of "
        "corpus shingles map-side; only survivors take the exact "
        "shuffle semi join, so false positives are eliminated and the "
        "result is bit-identical to q61's broadcast-exact arm."
    ),
)
def q115_bloom_decontam(spark, sf_dir):
    from kfai_pipeline_spark.operators import decontaminate as DC2

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    bench = docs.where(F.col("doc_id") % 10 == 0)
    return DC2.contamination_bloom(
        corpus, bench, text_col="text", id_col="doc_id", n=3, threshold=0.2,
        n_bits=1 << 20, k_hashes=5,
    ).orderBy("doc_id")


# ------------------------------------ Q116: z-order layout roundtrip (X46)
@register(
    "q116_zorder_scan",
    # The oracle runs on the ORIGINAL events table: z-ordering is a
    # pure layout transform (every row exactly once, only order and
    # file boundaries change), so a 2-predicate aggregate over the
    # rewritten copy must hash-match the same SQL over the source —
    # the oracle-checked proof that the clustering is content-free.
    # The pruning benefit itself is measured in BASELINE §5t
    # (scripts/zorder_spot.py); at fixture scale this row verifies the
    # lifecycle: stats agg -> Morton interleave -> range-repartition ->
    # sorted write with small row groups -> filtered read-back.
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS sum_value
    FROM events
    WHERE user_id BETWEEN 3 AND 9 AND value BETWEEN 50.0 AND 200.0
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc=(
        "Z-order clustering lifecycle (partitioning.zorder_write, X46 — "
        "the lakehouse OPTIMIZE ZORDER layout): per-column min/max "
        "bucketing + codegen Morton bit-interleave + sampled "
        "range-repartition on the z-value, written with small parquet "
        "row groups so min/max stats prune scans filtering on ANY z "
        "column (a plain sort prunes only its prefix). Read back and "
        "aggregated under a 2-dimension predicate; hash-checked "
        "against the same SQL on the unrewritten table."
    ),
)
def q116_zorder_scan(spark, sf_dir):
    import os

    from kfai_pipeline_spark.operators.partitioning import zorder_write

    ev = load_table(spark, sf_dir, "events")
    root = os.path.join(
        _scratch_root(), f"kfai_q116_{_scratch_tag(spark, sf_dir)}"
    )
    idx = os.path.join(root, "zorder")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        zorder_write(
            ev, idx, ["user_id", "value"], bits=12,
            row_group_bytes=256 * 1024,
        )
        os.makedirs(root, exist_ok=True)
        with open(done, "w") as fh:
            fh.write("ok")
    zdf = spark.read.parquet(idx)
    return (
        zdf.where(
            F.col("user_id").between(3, 9) & F.col("value").between(50.0, 200.0)
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.round(F.col("value") * 100).try_cast("long")) / 100.0, 2
            ).alias("sum_value"),
        )
        .orderBy("user_id")
    )


# ----------------------------------- Q117: hard-negative mining (X47)
@register(
    "q117_hard_negatives",
    # Ranking is on the ROUNDED cosine with a vec_id tie-break — the
    # q27 cross-engine convention; zero-norm/NULL vectors are excluded
    # on both sides per the degenerate-vector contract (DuckDB's
    # list_cosine_similarity returns -1.0 for a zero vector), and
    # NULL-label rows drop out of `label <> al` in both engines.
    oracle="""
    WITH a AS (
        SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av,
               label AS al
        FROM embeddings
        WHERE vec_id < 10 AND embedding IS NOT NULL AND label IS NOT NULL
          AND list_inner_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[])) > 0
    ),
    c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL
          AND list_inner_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[])) > 0
    ),
    scored AS (
        SELECT a.anchor_id, c.vec_id,
               ROUND(list_cosine_similarity(c.v, a.av), 4) AS score
        FROM a JOIN c ON c.label <> a.al
    ),
    ranked AS (
        SELECT anchor_id, vec_id, score,
               ROW_NUMBER() OVER (
                   PARTITION BY anchor_id ORDER BY score DESC, vec_id
               ) AS rk
        FROM scored
    )
    SELECT anchor_id, vec_id, score FROM ranked
    WHERE rk <= 5
    ORDER BY anchor_id, vec_id
    """,
    doc=(
        "Hard-negative mining for contrastive training (similarity."
        "mine_hard_negatives, X47): per anchor, the top-5 most-similar "
        "corpus vectors with a DIFFERENT label. Anchors broadcast, the "
        "corpus streams through one codegen stage (normalize -> dot -> "
        "map-side label-mismatch filter -> per-anchor window top-k) — "
        "the q27 scan shape with the negative-pair semantics a "
        "contrastive loss needs."
    ),
)
def q117_hard_negatives(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"), "embedding", "label"
    )
    out = S.mine_hard_negatives(emb, anchors, k=5)
    return out.select("anchor_id", "vec_id", "score").orderBy(
        "anchor_id", "vec_id"
    )


# --------------------------------- Q118: small-file compaction (X48)
@register(
    "q118_compact_roundtrip",
    # Oracle on the ORIGINAL events table: compaction is a pure layout
    # rewrite (read -> repartition -> committed write), so an aggregate
    # over the fragmented copy COMPACTED back down must hash-match the
    # source — plus the lifecycle asserts the file count actually
    # dropped (guarded in the builder: a no-op rewrite would still
    # hash-match, so the row alone can't certify compaction happened).
    # Checksum columns are fold-order-free on purpose: the null sweep's
    # extreme-numerics arm killed a grouped ROUND(SUM(value),2) here —
    # with +/-1e308 in one group, reassociation across a changed layout
    # flips the sum catastrophically (1e308 + x - 1e308 == 0 one order,
    # x the other). Exact-integer id sums and MIN/MAX carry the same
    # row-membership evidence with zero float folds.
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           ROUND(MIN(value), 2) AS min_value,
           ROUND(MAX(value), 2) AS max_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc=(
        "Small-file compaction lifecycle (partitioning.compact_to, "
        "X48 — the lakehouse OPTIMIZE/rewrite_data_files maintenance "
        "op): a deliberately fragmented 64-file copy of events is "
        "compacted to ~target-size files under Spark's committer "
        "(_SUCCESS-gated, the committed-read protocol; pointer flip is "
        "the caller's, never an in-place rename), then read back and "
        "aggregated — hash-checked against the unfragmented source."
    ),
)
def q118_compact_roundtrip(spark, sf_dir):
    import os

    from kfai_pipeline_spark.operators.partitioning import compact_to

    ev = load_table(spark, sf_dir, "events")
    root = os.path.join(
        _scratch_root(), f"kfai_q118_{_scratch_tag(spark, sf_dir)}"
    )
    frag, comp = os.path.join(root, "frag"), os.path.join(root, "compact")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        # fragment: 64 tasks x tiny rows = the streaming-sink disease
        ev.repartition(64).write.mode("overwrite").parquet(frag)
        stats = compact_to(spark, frag, comp, target_bytes=8 * 1024 * 1024)
        # contract: the target file count was achieved and the rewrite
        # never fragments further (== is legitimate on a zero-row/
        # single-file input, where both sides are one footer-only file)
        assert stats["files_after"] <= stats["n_target"], stats
        assert stats["files_after"] <= stats["files_before"], stats
        os.makedirs(root, exist_ok=True)
        with open(done, "w") as fh:
            fh.write("ok")
    return (
        spark.read.parquet(comp)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("event_id").alias("id_sum"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
        .orderBy("event_type")
    )


# ------------------------------- Q119: leakage-safe train/val split (X49)
@register(
    "q119_leakage_split",
    # q56's recursive-CTE components extended: singletons coalesce to
    # their own id, then the split is the q63 md5-prefix hash of the
    # GROUP label — so a near-dup cluster lands entirely in one split.
    # The oracle proves both the grouping and the assignment.
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id, string_split_regex(coalesce(text, ''), '[\\s\\x0B]+') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w)-2,1)+1)) AS i) t
    ),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter * 1.0 / (sa.sz + sb.sz - n_inter) >= 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    cc(id, comp) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, c.comp FROM cc c JOIN edges e ON e.src = c.id
    ),
    labels AS (SELECT id AS doc_id, MIN(comp) AS component FROM cc GROUP BY id),
    grouped AS (
        SELECT d.doc_id, COALESCE(l.component, d.doc_id) AS component
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    )
    SELECT doc_id, component,
           CASE WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15))::BIGINT
                     % 10000 < 1000
                THEN 'val' ELSE 'train' END AS split
    FROM grouped
    ORDER BY doc_id
    """,
    doc=(
        "Leakage-safe train/val split (sampling.split_by_group, X49): "
        "assignment unit = the near-dup COMPONENT (q56's labels, "
        "singletons coalesced to their own id), hashed with the q63 "
        "md5-prefix arm — a near-duplicate cluster can never straddle "
        "train and validation, which is the point of computing dedup "
        "groups in the first place. Map-side beyond the component join."
    ),
)
def q119_leakage_split(spark, sf_dir):
    from kfai_pipeline_spark.operators.sampling import split_by_group
    from kfai_pipeline_spark.operators.text_analysis import md5_long

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        docs, text_col="text", id_col="doc_id", n=3, threshold=0.5
    )
    comp = D.connected_components(pairs.select("id_a", "id_b")).select(
        F.col("id").alias("doc_id"), "component"
    )
    grouped = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("component"),
    )
    out = split_by_group(
        grouped, "component", val_frac=0.10, hash_fn=md5_long
    )
    return out.select("doc_id", "component", "split").orderBy("doc_id")


# ------------------------- Q120: hard-negative mining, BLAS arm (X47b)
@register(
    "q120_hard_negatives_blas",
    # EXACTLY q117's oracle (the q76/q27 twin pattern): the BLAS arm's
    # batch matmul + same-label mask + two-level top-k must be
    # indistinguishable from the expression arm — measured 5.4x at 10M
    # vectors (BASELINE §5u) with identical output.
    oracle="""
    WITH a AS (
        SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av,
               label AS al
        FROM embeddings
        WHERE vec_id < 10 AND embedding IS NOT NULL AND label IS NOT NULL
          AND list_inner_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[])) > 0
    ),
    c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL
          AND list_inner_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[])) > 0
    ),
    scored AS (
        SELECT a.anchor_id, c.vec_id,
               ROUND(list_cosine_similarity(c.v, a.av), 4) AS score
        FROM a JOIN c ON c.label <> a.al
    ),
    ranked AS (
        SELECT anchor_id, vec_id, score,
               ROW_NUMBER() OVER (
                   PARTITION BY anchor_id ORDER BY score DESC, vec_id
               ) AS rk
        FROM scored
    )
    SELECT anchor_id, vec_id, score FROM ranked
    WHERE rk <= 5
    ORDER BY anchor_id, vec_id
    """,
    doc=(
        "BLAS arm of hard-negative mining (similarity."
        "mine_hard_negatives_blas, X47b — the q76-style Arrow/numpy "
        "twin): one V @ Q.T matmul per corpus batch, same-label pairs "
        "masked in the kernel, local top-k per anchor before the "
        "global window (shuffles O(k x anchors x batches), never "
        "|corpus| x |anchors|). 5.4x the expression arm at 10M vectors "
        "with bit-identical output (BASELINE §5u)."
    ),
)
def q120_hard_negatives_blas(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"), "embedding", "label"
    )
    out = S.mine_hard_negatives_blas(emb, anchors, k=5)
    return out.select("anchor_id", "vec_id", "score").orderBy(
        "anchor_id", "vec_id"
    )


# ------------------------- Q121: tiered ANN retrieval in the RAG plan (X50)
# The brute-retrieval oracle shared by BOTH tiered parity rows (q121
# sq8, q125 ivfpq): the tier must be ROW-IDENTICAL to brute retrieval
# over the filtered slice, so the oracle IS the brute semantics —
# metadata filter, rounded cosine, (video_id,start_time) dedup, top-10
# on (score DESC, video_id, start_time), a total order because the
# fixture's (video_id, start_time) pairs are unique per doc.
_TIERED_RAG_ORACLE = """
    WITH fixture AS (
        SELECT d.doc_id,
               'v' || CAST(d.doc_id % 40 AS VARCHAR) AS video_id,
               CAST((d.doc_id // 40) * 30 AS DOUBLE) AS start_time,
               d.source AS show_name,
               CAST(e.embedding AS DOUBLE[]) AS v
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        WHERE d.doc_id <> 0 AND e.embedding IS NOT NULL
          AND list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                 CAST(e.embedding AS DOUBLE[])) > 0
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
          WHERE vec_id = 0 AND embedding IS NOT NULL
            AND list_inner_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])) > 0),
    scored AS (
        SELECT f.doc_id, f.video_id, f.start_time,
               ROUND(list_cosine_similarity(f.v, q.qv), 4) AS score
        FROM fixture f, q
        WHERE f.show_name IN ('src1', 'src3', 'src5', 'src7')
    ),
    dedup AS (
        SELECT *, row_number() OVER (
            PARTITION BY video_id, start_time
            ORDER BY score DESC, video_id, start_time) AS rn
        FROM scored
    )
    SELECT doc_id, video_id, start_time, score
    FROM dedup WHERE rn = 1
    ORDER BY score DESC, video_id, start_time
    LIMIT 10
    """


@register(
    "q121_rag_tiered",
    # serving-composition parity row (round-8 verdict item #1): see
    # _TIERED_RAG_ORACLE
    oracle=_TIERED_RAG_ORACLE,
    doc=(
        "Tiered ANN retrieval wired into the RAG serving plan "
        "(plans/rag.py retrieve_tiered, X50 — the reference's stage-4 "
        "retrieval IS ANN serving, ref query_agent.py:234-283): a "
        "persisted SQ8 index probe with the metadata predicate applied "
        "POST-probe and a certificate-gated top-up loop (grow the probe "
        "until k survivors score strictly above the probe's weakest "
        "candidate, or the index is exhausted), then the uniform exact "
        "re-score + dedup/cap/resort. Hash-checked against brute "
        "retrieval — the proof the tier routing is semantics-free."
    ),
)
def q121_rag_tiered(spark, sf_dir):
    return _tiered_rag_parity(spark, sf_dir, kind="sq8")


def _tiered_rag_fixture(spark, sf_dir, kind, qname, n_clusters=8,
                        two_phase=False, build=True, opq_iters=0):
    """Shared fixture for the tiered-retrieval rows (q121/q125/q126/
    q128/q129): the doc+embedding serving corpus and a ``kind`` index
    persisted once per (sf_dir, qname). NULL and zero-norm embeddings
    are excluded on BOTH engines (the q117 degenerate-vector
    convention — DuckDB scores a zero vector -1.0 while the
    index/probe drop it). ``two_phase`` builds the index over the
    EVEN-doc_id half and appends the odd half (the q128/q129
    incremental-maintenance parity shape — trained artifacts frozen at
    the half-corpus build). ``build=False`` returns just the fixture
    frame (callers that manage their own index — q130 — must not pay
    a side-effect full-corpus encode). Returns (fixture_df,
    index_path)."""
    import os

    from kfai_pipeline_spark.plans.rag import (
        append_retrieval_index,
        build_retrieval_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    fixture = (
        docs.join(emb, docs["doc_id"] == emb["vec_id"])
        .where(
            (F.col("doc_id") != 0)
            & F.col("embedding").isNotNull()
            & (S.dot(S._as_double("embedding"), S._as_double("embedding")) > 0)
        )
        .select(
            "doc_id",
            F.concat(F.lit("v"), (F.col("doc_id") % 40).cast("string")).alias(
                "video_id"
            ),
            ((F.col("doc_id") / 40).cast("long") * 30).cast("double").alias(
                "start_time"
            ),
            F.col("source").alias("show_name"),
            (F.lit(1577836800) + (F.col("doc_id") % 1000) * 86400).alias(
                "published_at"
            ),
            F.col("source").alias("title"),
            "text",
            "embedding",
        )
    )
    root = os.path.join(
        _scratch_root(), f"kfai_{qname}_{_scratch_tag(spark, sf_dir)}"
    )
    idx = os.path.join(root, kind)
    done = os.path.join(root, "_DONE")
    if not build:
        return fixture, idx
    if not os.path.exists(done):
        if two_phase and fixture.where(F.col("doc_id") % 2 == 0).limit(
            1
        ).count() > 0:
            build_retrieval_index(
                fixture.where(F.col("doc_id") % 2 == 0), idx,
                id_col="doc_id", kind=kind, n_clusters=n_clusters,
                opq_iters=opq_iters,
            )
            append_retrieval_index(
                fixture.where(F.col("doc_id") % 2 == 1), idx,
                id_col="doc_id",
            )
        else:
            # two_phase with an EMPTY seed half (the empty-input sweep:
            # zero-row tables) has no trained artifacts to append to —
            # the operators rightly raise there, so the parity row
            # degrades to a plain build over the (empty) fixture and
            # the retrieval serves the contract-schema empty frame
            build_retrieval_index(
                fixture, idx, id_col="doc_id", kind=kind,
                n_clusters=n_clusters, opq_iters=opq_iters,
            )
        os.makedirs(root, exist_ok=True)
        with open(done, "w") as fh:
            fh.write("ok")
    return fixture, idx


def _tiered_rag_parity(spark, sf_dir, kind, two_phase=False,
                       opq_iters=0):
    """Shared builder for the tiered-retrieval parity rows (q121 sq8 /
    q125 ivfpq, and their incremental-index twins q128/q129 via
    ``two_phase``): run retrieve_tiered over the shared fixture in the
    exhaustive-probe regime and return the brute-identical top-10.
    The ivfpq arm probes every cluster (nprobe >= n_clusters): a small
    coarse book keeps the exhaustive regime honest while still
    exercising the routing + pruned-scan path."""
    from kfai_pipeline_spark.plans.rag import ParsedQuery, retrieve_tiered

    n_clusters = 8
    qname = {
        ("sq8", False): "q121",
        ("ivfpq", False): "q137" if opq_iters else "q125",
        ("sq8", True): "q128",
        ("ivfpq", True): "q129",
    }[(kind, two_phase)]
    fixture, idx = _tiered_rag_fixture(
        spark, sf_dir, kind, qname, n_clusters=n_clusters,
        two_phase=two_phase, opq_iters=opq_iters,
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    if (
        qrow is None
        or qrow[0] is None
        or all(float(x) == 0.0 for x in qrow[0])
    ):
        # missing / NULL / zero-norm query vector: the contract-schema
        # empty result on BOTH engines (the oracle's q CTE carries the
        # same degenerate-vector guard), not a crash or a NULL-score
        # top-k (empty-input + null sweeps)
        return spark.createDataFrame(
            [], "doc_id long, video_id string, start_time double, score double"
        )
    qv = [float(x) for x in qrow[0]]
    parsed = ParsedQuery(shows=["src1", "src3", "src5", "src7"])
    # parity rows size refine from the fixture row count so the probe
    # pool COVERS the corpus (k*refine >= n): the certificate is exact
    # only relative to the pool (retrieve_tiered docstring), so a fixed
    # refine would make brute-parity fixture-size-dependent
    n = fixture.count()
    out = retrieve_tiered(
        fixture, qv, parsed, k=10, id_col="doc_id", tier="ann",
        index_path=idx, index_kind=kind, nprobe=n_clusters,
        refine=max(64, -(-n // 10)),
    )
    return out.select("doc_id", "video_id", "start_time", "score").orderBy(
        F.desc("score"), "video_id", "start_time"
    )


# --------------------------- Q122: optimize_table maintenance lifecycle (X50b)
@register(
    "q122_optimize_table",
    # Oracle on the ORIGINAL events table (the q116/q118 pattern
    # composed): optimize = compact + z-order is a pure layout rewrite,
    # so a 2-dimension-predicate aggregate over the optimized copy of a
    # deliberately fragmented events table must hash-match the same SQL
    # over the unrewritten source. Checksums follow the fold-order-free
    # discipline (exact cents-integer SUM; COUNT/MIN/MAX otherwise).
    # The builder additionally asserts the maintenance CONTRACT (file
    # count dropped to target, stats row count == source) — a no-op
    # rewrite would hash-match, so the row alone can't certify it.
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           ROUND(CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS sum_value
    FROM events
    WHERE user_id BETWEEN 2 AND 11 AND value BETWEEN 25.0 AND 250.0
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc=(
        "One-call table maintenance (partitioning.optimize_table, X50b "
        "— the lakehouse OPTIMIZE): compaction sizing (X48) + z-order "
        "clustering (X46) + catalog stats in a single committed "
        "rewrite. A 64-file fragmented copy of events is optimized "
        "(z-ordered on user_id/value, small row groups), read back "
        "through the _SUCCESS gate, and aggregated under a 2-dimension "
        "predicate — hash-checked against the unrewritten source."
    ),
)
def q122_optimize_table(spark, sf_dir):
    import os

    from kfai_pipeline_spark.operators.partitioning import optimize_table

    ev = load_table(spark, sf_dir, "events")
    root = os.path.join(
        _scratch_root(), f"kfai_q122_{_scratch_tag(spark, sf_dir)}"
    )
    frag, opt = os.path.join(root, "frag"), os.path.join(root, "opt")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        ev.repartition(64).write.mode("overwrite").parquet(frag)
        stats = optimize_table(
            spark, frag, opt, zorder_cols=["user_id", "value"],
            target_bytes=8 * 1024 * 1024, bits=12,
            row_group_bytes=256 * 1024,
        )
        assert stats["files_after"] <= stats["n_target"], stats
        assert stats["files_after"] <= stats["files_before"], stats
        # stats are part of the contract: the committed copy holds
        # every source row and the recorded min/max really bound it
        assert stats["n_rows"] == ev.count(), stats
        os.makedirs(root, exist_ok=True)
        with open(done, "w") as fh:
            fh.write("ok")
    return (
        spark.read.parquet(opt)
        .where(
            F.col("user_id").between(2, 11) & F.col("value").between(25.0, 250.0)
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").alias("id_sum"),
            F.round(
                F.sum(F.round(F.col("value") * 100).try_cast("long")) / 100.0, 2
            ).alias("sum_value"),
        )
        .orderBy("user_id")
    )


# ----------------------- Q123: corrupted-JSON dead-letter routing (I3/§2.10)
@register(
    "q123_json_deadletter",
    # Both engines corrupt IDENTICALLY in-flight (truncate the last two
    # chars of events.props when event_id % 7 = 3 — read-only testdata
    # stays untouched), then route on the SAME validity contract:
    # Spark try_parse_json IS NOT NULL == DuckDB json_valid, NULL input
    # counts invalid on both. Checksums are exact-integer (counts,
    # SUM of parsed k, SUM of dead event_ids) so the hash pins the
    # routing decision row-for-row, not just the counts.
    oracle="""
    WITH c AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 7 = 3
                    THEN substr(props, 1, len(props) - 2)
                    ELSE props END AS props
        FROM events
    ),
    f AS (
        SELECT event_id, event_type, props,
               COALESCE(json_valid(props), FALSE) AS ok
        FROM c
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_dead,
           CAST(SUM(CASE WHEN ok
                    THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
               END) AS BIGINT) AS k_sum,
           CAST(SUM(CASE WHEN NOT ok THEN event_id END) AS BIGINT) AS dead_id_sum
    FROM f GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "Corrupted-input dead-letter routing (pipeline.json_ok + "
        "split_dead_letter, I3): deterministically truncated JSON "
        "payloads route to the dead-letter side by a TOTAL validity "
        "predicate (try_parse_json never throws) while clean rows "
        "parse and aggregate — one malformed record on a 1000-executor "
        "job is a dead-letter row, never a crash. Hash-checked against "
        "DuckDB's json_valid on the identically corrupted stream."
    ),
)
def q123_json_deadletter(spark, sf_dir):
    from kfai_pipeline_spark.operators.pipeline import json_ok

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 7 == 3,
            F.expr("substring(props, 1, length(props) - 2)"),
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    flagged = ev.withColumn("ok", json_ok("props"))
    return (
        flagged.groupBy("event_type")
        .agg(
            F.sum(F.col("ok").cast("long")).alias("n_clean"),
            F.sum((~F.col("ok")).cast("long")).alias("n_dead"),
            # try_cast, both engines: '{"k": "text"}' is VALID JSON that
            # routes clean, and under Spark 4's default ANSI mode a
            # plain cast of 'text' aborts the job (corruption sweep)
            F.sum(
                F.when(
                    F.col("ok"),
                    F.get_json_object("props", "$.k").try_cast("long"),
                )
            ).alias("k_sum"),
            F.sum(F.when(~F.col("ok"), F.col("event_id"))).alias("dead_id_sum"),
        )
        .orderBy("event_type")
    )


# -------------- Q125: IVFPQ as the RAG serving tier's index kind (X50/X44)
@register(
    "q125_rag_tiered_ivfpq",
    # Same parity contract and oracle as q121 — the index kind must be
    # invisible to the result. The serving plan's corpus-scale answer
    # (q113's docstring, BASELINE §5p: the partition-pruned IVFPQ probe
    # reads ~nprobe/n_clusters of m-byte codes) is now reachable from
    # retrieve_tiered, and in the exhaustive-probe regime (nprobe =
    # n_clusters, k*refine >= corpus) it is row-identical to brute.
    oracle=_TIERED_RAG_ORACLE,
    doc=(
        "IVFPQ as a retrieve_tiered index kind (round-9 verdict item "
        "#3): index_kind='ivfpq' routes the serving plan's probe "
        "through the q113/X44 partition-pruned residual-PQ index "
        "(train_ivfpq + write_ivfpq_index + ivfpq_topk) behind the "
        "same post-probe metadata filter, certificate-gated top-up, "
        "and exact re-score as the SQ8 kind. Hash-checked against the "
        "q121 brute oracle verbatim — the proof that the 10^10-vector "
        "index shape serves the same rows."
    ),
)
def q125_rag_tiered_ivfpq(spark, sf_dir):
    return _tiered_rag_parity(spark, sf_dir, kind="ivfpq")


# ---------------- Q126: batched-query tiered serving (offline eval arm)
@register(
    "q126_rag_tiered_batch",
    # The q121 parity contract generalized to a query BATCH: per-query
    # rows must equal the single-query tier (== brute), so the oracle
    # is brute retrieval per query — one cross score, per-query dedup
    # and rank windows. Query vectors are corpus embeddings (vec_id IN
    # (0,7,21,33,44)); self-matches are legitimate top hits and both
    # engines score them identically. Same degenerate-vector guards as
    # q121 on both sides.
    oracle="""
    WITH fixture AS (
        SELECT d.doc_id,
               'v' || CAST(d.doc_id % 40 AS VARCHAR) AS video_id,
               CAST((d.doc_id // 40) * 30 AS DOUBLE) AS start_time,
               d.source AS show_name,
               CAST(e.embedding AS DOUBLE[]) AS v
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        WHERE d.doc_id <> 0 AND e.embedding IS NOT NULL
          AND list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                 CAST(e.embedding AS DOUBLE[])) > 0
    ),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings
          WHERE vec_id IN (0, 7, 21, 33, 44) AND embedding IS NOT NULL
            AND list_inner_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])) > 0),
    scored AS (
        SELECT q.query_id, f.doc_id, f.video_id, f.start_time,
               ROUND(list_cosine_similarity(f.v, q.qv), 4) AS score
        FROM fixture f, q
        WHERE f.show_name IN ('src1', 'src3', 'src5', 'src7')
    ),
    dedup AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id, video_id, start_time
            ORDER BY score DESC, doc_id) AS rn
        FROM scored
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY score DESC, video_id, start_time, doc_id) AS rk
        FROM dedup WHERE rn = 1
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           doc_id, video_id, start_time, score
    FROM ranked WHERE rk <= 10
    ORDER BY query_id, score DESC, video_id, start_time
    """,
    doc=(
        "Batched tiered retrieval (plans/rag.py retrieve_tiered_batch, "
        "round-9 verdict item #4): the offline-eval arm — ONE pool "
        "scan per two top-up rounds serves every pending query (the "
        "q76/q120 per-batch local top-k shape), each query's rounds "
        "are replayed from its pool on the executors and the decided "
        "rows checkpoint-materialized so the status and the result "
        "reuse one scan, the doc join-back broadcasts distinct "
        "decided ids, and the only driver traffic is the per-pass "
        "O(#queries) status rows. Hash-checked against per-query "
        "brute retrieval replayed in DuckDB."
    ),
)
def q126_rag_tiered_batch(spark, sf_dir):
    from kfai_pipeline_spark.plans.rag import ParsedQuery, retrieve_tiered_batch

    fixture, idx = _tiered_rag_fixture(spark, sf_dir, "sq8", "q126")
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin([0, 7, 21, 33, 44])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    parsed = ParsedQuery(shows=["src1", "src3", "src5", "src7"])
    n = fixture.count()
    out = retrieve_tiered_batch(
        fixture, queries, parsed, k=10, id_col="doc_id", index_path=idx,
        refine=max(64, -(-n // 10)),
    )
    return out.select(
        "query_id", "doc_id", "video_id", "start_time", "score"
    ).orderBy("query_id", F.desc("score"), "video_id", "start_time")


# ------ Q132: per-query metadata predicates in the batched serving arm
@register(
    "q132_rag_tiered_batch_filters",
    # The q126 contract with each query carrying its OWN compiled
    # filter (the real offline-eval shape — the reference compiles a
    # filter per question, ref filtering.py:18-123 +
    # query_agent.py:252-283): five queries, five distinct predicates
    # (show lists, a year range on published_at, a topic ILIKE, and one
    # unfiltered), replayed in DuckDB as a per-query CASE in the brute
    # cross score. Year bounds are year_term_epoch_range(exact_year=
    # 2020) = [1577836800, 1609459199], embedded as literals on both
    # engines. Same degenerate-vector guards as q126.
    oracle="""
    WITH fixture AS (
        SELECT d.doc_id,
               'v' || CAST(d.doc_id % 40 AS VARCHAR) AS video_id,
               CAST((d.doc_id // 40) * 30 AS DOUBLE) AS start_time,
               d.source AS show_name,
               1577836800 + (d.doc_id % 1000) * 86400 AS published_at,
               d.source AS title,
               d.text AS body,
               CAST(e.embedding AS DOUBLE[]) AS v
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        WHERE d.doc_id <> 0 AND e.embedding IS NOT NULL
          AND list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                 CAST(e.embedding AS DOUBLE[])) > 0
    ),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings
          WHERE vec_id IN (0, 7, 21, 33, 44) AND embedding IS NOT NULL
            AND list_inner_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])) > 0),
    scored AS (
        SELECT q.query_id, f.doc_id, f.video_id, f.start_time,
               ROUND(list_cosine_similarity(f.v, q.qv), 4) AS score
        FROM fixture f, q
        WHERE (q.query_id = 0 AND f.show_name IN ('src1', 'src3'))
           OR (q.query_id = 7 AND f.show_name IN ('src2', 'src4', 'src6'))
           OR (q.query_id = 21)
           OR (q.query_id = 33 AND f.show_name IN ('src5', 'src7')
               AND f.published_at >= 1577836800
               AND f.published_at <= 1609459199)
           OR (q.query_id = 44 AND f.show_name IN ('src0', 'src1', 'src2')
               AND (f.title ILIKE '%vector%' OR f.body ILIKE '%vector%'))
    ),
    dedup AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id, video_id, start_time
            ORDER BY score DESC, doc_id) AS rn
        FROM scored
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY score DESC, video_id, start_time, doc_id) AS rk
        FROM dedup WHERE rn = 1
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           doc_id, video_id, start_time, score
    FROM ranked WHERE rk <= 10
    ORDER BY query_id, score DESC, video_id, start_time
    """,
    doc=(
        "Per-query metadata predicates in the batched tiered serving "
        "arm (plans/rag.py retrieve_tiered_batch with a {query_id -> "
        "ParsedQuery} mapping, round-10 verdict item #1): distinct "
        "predicate templates compile to ONE CASE expression over "
        "query_id evaluated on the pool once it binds query_id — the "
        "pool scan stays one-per-pass for ALL pending queries and "
        "the corpus never shuffles, while each question retrieves "
        "under its own show/year/topic filter. Hash-checked against "
        "per-query brute retrieval with the same filters replayed as "
        "a CASE in DuckDB."
    ),
)
def q132_rag_tiered_batch_filters(spark, sf_dir):
    from kfai_pipeline_spark.plans.rag import (
        ParsedQuery,
        retrieve_tiered_batch,
    )

    # same corpus + index as q126 (the _DONE marker serializes builds;
    # the per-query-filter arm must serve from the IDENTICAL index to
    # pin that only the predicate routing changed)
    fixture, idx = _tiered_rag_fixture(spark, sf_dir, "sq8", "q126")
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin([0, 7, 21, 33, 44])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    per_query = {
        0: ParsedQuery(shows=["src1", "src3"]),
        7: ParsedQuery(shows=["src2", "src4", "src6"]),
        21: ParsedQuery(),  # unfiltered — the lit(True) template
        33: ParsedQuery(shows=["src5", "src7"], exact_year=2020),
        44: ParsedQuery(shows=["src0", "src1", "src2"], topics=["vector"]),
    }
    n = fixture.count()
    out = retrieve_tiered_batch(
        fixture, queries, per_query, k=10, id_col="doc_id",
        index_path=idx, refine=max(64, -(-n // 10)),
    )
    return out.select(
        "query_id", "doc_id", "video_id", "start_time", "score"
    ).orderBy("query_id", F.desc("score"), "video_id", "start_time")


# -------- Q124/Q127: reference-faithful multi-topic fan-out (+ tiered)
# Shared oracle: the fan-out IS the reference's retrieval semantics
# (ref query_agent.py:234-306) made deterministic with the q121 recipe
# — per-topic ILIKE gate, CROSS-topic scoring vector (branch for topic
# 'vector' scores with the 'stream' embedding and vice versa), k per
# branch, union, chunk-dedup, cap. Branch query embeddings are pinned
# to corpus vectors (embedder('stream') = vec_id 1, embedder('vector')
# = vec_id 2) so DuckDB can replay the scoring exactly.
_MULTI_TOPIC_ORACLE = """
    WITH fixture AS (
        SELECT d.doc_id,
               'v' || CAST(d.doc_id % 40 AS VARCHAR) AS video_id,
               CAST((d.doc_id // 40) * 30 AS DOUBLE) AS start_time,
               d.source AS show_name,
               d.source AS title,
               d.text AS body,
               CAST(e.embedding AS DOUBLE[]) AS v
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        WHERE d.doc_id <> 0 AND e.embedding IS NOT NULL
          AND list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                 CAST(e.embedding AS DOUBLE[])) > 0
    ),
    q1 AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
           WHERE vec_id = 1 AND embedding IS NOT NULL
             AND list_inner_product(CAST(embedding AS DOUBLE[]),
                                    CAST(embedding AS DOUBLE[])) > 0),
    q2 AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
           WHERE vec_id = 2 AND embedding IS NOT NULL
             AND list_inner_product(CAST(embedding AS DOUBLE[]),
                                    CAST(embedding AS DOUBLE[])) > 0),
    b1 AS (
        SELECT f.doc_id, f.video_id, f.start_time,
               ROUND(list_cosine_similarity(f.v, q1.qv), 4) AS score
        FROM fixture f, q1
        WHERE f.show_name IN ('src1', 'src3', 'src5', 'src7')
          AND (f.title ILIKE '%vector%' OR f.body ILIKE '%vector%')
    ),
    b2 AS (
        SELECT f.doc_id, f.video_id, f.start_time,
               ROUND(list_cosine_similarity(f.v, q2.qv), 4) AS score
        FROM fixture f, q2
        WHERE f.show_name IN ('src1', 'src3', 'src5', 'src7')
          AND (f.title ILIKE '%stream%' OR f.body ILIKE '%stream%')
    ),
    branch_top AS (
        SELECT * FROM (
            SELECT b1.*, row_number() OVER (
                PARTITION BY video_id, start_time
                ORDER BY score DESC, doc_id) AS rn
            FROM b1
        ) x WHERE rn = 1
        QUALIFY row_number() OVER (
            ORDER BY score DESC, video_id, start_time, doc_id) <= 10
        UNION ALL
        SELECT * FROM (
            SELECT b2.*, row_number() OVER (
                PARTITION BY video_id, start_time
                ORDER BY score DESC, doc_id) AS rn
            FROM b2
        ) x WHERE rn = 1
        QUALIFY row_number() OVER (
            ORDER BY score DESC, video_id, start_time, doc_id) <= 10
    ),
    dedup AS (
        SELECT doc_id, video_id, start_time, score, row_number() OVER (
            PARTITION BY video_id, start_time
            ORDER BY score DESC, doc_id) AS rn
        FROM branch_top
    )
    SELECT doc_id, video_id, start_time, score
    FROM dedup WHERE rn = 1
    ORDER BY score DESC, video_id, start_time, doc_id
    LIMIT 10
    """


def _multi_topic_row(spark, sf_dir, tier):
    from kfai_pipeline_spark.plans.rag import ParsedQuery, retrieve_multi_topic

    # one shared scratch fixture+index for both rows (deterministic
    # content; the _DONE marker serializes builds)
    fixture, idx = _tiered_rag_fixture(spark, sf_dir, "sq8", "q124")
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in emb.where(F.col("vec_id").isin([1, 2])).collect()
    }

    def pinned(vid, dim):
        v = vecs.get(vid)
        if v is None or all(float(x) == 0.0 for x in v):
            # degenerate scoring vector -> NULL scores -> empty branch,
            # matching the oracle's q-CTE guard (empty q = empty branch)
            return [0.0] * dim
        return [float(x) for x in v]

    dims = [len(v) for v in vecs.values() if v is not None]
    if not dims:
        return spark.createDataFrame(
            [], "doc_id long, video_id string, start_time double, score double"
        )
    dim = dims[0]
    # branch for topic 'vector' scores with the OTHER topic's embedding
    # ('stream' -> vec 1); branch 'stream' scores with 'vector' -> vec 2
    emb_map = {"stream": pinned(1, dim), "vector": pinned(2, dim)}

    def embedder(texts):
        return [emb_map[t] for t in texts]

    parsed = ParsedQuery(
        shows=["src1", "src3", "src5", "src7"], topics=["vector", "stream"]
    )
    n = fixture.count()
    out = retrieve_multi_topic(
        fixture, "unused question", parsed, embedder, k=10,
        deterministic=True, id_col="doc_id", tier=tier, index_path=idx,
        refine=max(64, -(-n // 10)),
    )
    return out.select("doc_id", "video_id", "start_time", "score").orderBy(
        F.desc("score"), "video_id", "start_time"
    )


@register(
    "q124_rag_multi_topic",
    oracle=_MULTI_TOPIC_ORACLE,
    doc=(
        "Reference-faithful multi-topic retrieval fan-out (plans/rag.py "
        "retrieve_multi_topic, the actual reference semantics — ref "
        "query_agent.py:234-306: per-topic title/text ILIKE gate, "
        "cross-topic scoring vector, k per branch, union, dedup/cap) "
        "in the deterministic q121 recipe (rounded scores, id "
        "tie-breaks), hash-checked against a branch-by-branch DuckDB "
        "replay. Closes the last untested reference lifecycle stage."
    ),
)
def q124_rag_multi_topic(spark, sf_dir):
    return _multi_topic_row(spark, sf_dir, tier="brute")


@register(
    "q127_rag_multi_topic_tiered",
    # the q124 oracle VERBATIM: routing each branch through the ANN
    # tier (post-probe branch predicate + certificate-gated top-up) in
    # the exhaustive-probe regime must not change a single row
    oracle=_MULTI_TOPIC_ORACLE,
    doc=(
        "Multi-topic fan-out THROUGH the serving tier, batched "
        "(round-10 verdict item #3): the branches ride "
        "retrieve_tiered_batch as (query_id=branch) rows with "
        "per-branch predicates — ONE pool scan per two top-up rounds "
        "serves every branch (B topics x 10^4 eval questions through "
        "the single-query loop would re-open the per-query-scan shape "
        "the batch arm killed), each branch's ILIKE gate applying "
        "post-probe via the per-query CASE, with per-branch "
        "certificate-gated probe depth. Hash-checked against the q124 "
        "oracle verbatim."
    ),
)
def q127_rag_multi_topic_tiered(spark, sf_dir):
    return _multi_topic_row(spark, sf_dir, tier="ann")


# -------- Q128/Q129: incremental index maintenance (add-after-train)
@register(
    "q128_rag_index_append_sq8",
    # the q121 brute oracle VERBATIM: an index built over half the
    # corpus then APPENDED with the other half (frozen build-time
    # stats; saturation contract) must serve the same rows as brute
    # over the union in the exhaustive-probe regime
    oracle=_TIERED_RAG_ORACLE,
    doc=(
        "Incremental SQ8 index maintenance (similarity."
        "append_ann_index / rag.append_retrieval_index — the Faiss "
        "add-after-train shape): the per-dim codebook is frozen at "
        "build; the daily ingest's codes APPEND without re-encoding "
        "the corpus (at 10^10 vectors a rebuild reads+writes every "
        "code byte for a <1% delta). Out-of-range appended values "
        "saturate (clip, never uint8-wrap). Hash-checked: build(even "
        "half)+append(odd half) serves row-identically to brute over "
        "the union (the q121 oracle verbatim)."
    ),
)
def q128_rag_index_append_sq8(spark, sf_dir):
    return _tiered_rag_parity(spark, sf_dir, kind="sq8", two_phase=True)


@register(
    "q129_rag_index_append_ivfpq",
    oracle=_TIERED_RAG_ORACLE,
    doc=(
        "Incremental IVFPQ index maintenance (similarity."
        "append_ann_index): coarse book + PQ codebooks are train-"
        "time artifacts and stay frozen; appended vectors assign + "
        "residual-encode against them and land in the cluster_id "
        "partition layout via dynamic-partition APPEND (only the "
        "delta's m bytes/vector are written). Hash-checked: build("
        "even half)+append(odd half) serves row-identically to brute "
        "over the union (the q121 oracle verbatim, exhaustive probe)."
    ),
)
def q129_rag_index_append_ivfpq(spark, sf_dir):
    return _tiered_rag_parity(spark, sf_dir, kind="ivfpq", two_phase=True)


# -------- Q130: streaming index maintenance serving parity (X52b)
@register(
    "q130_rag_index_stream",
    # the q121 brute oracle VERBATIM: an index seeded from half the
    # corpus and maintained from an AvailableNow STREAM of the other
    # half (two micro-batch epochs, frozen build-time stats,
    # _SUCCESS-gated epoch dirs) must serve the same rows as brute
    # over the union in the exhaustive-probe regime
    oracle=_TIERED_RAG_ORACLE,
    doc=(
        "Streaming ANN-index maintenance (streaming/index_maintain.py "
        "maintain_ann_index_stream, X52b — the X52 append as a "
        "foreachBatch maintainer): each micro-batch encodes against "
        "the frozen build-time artifacts and lands in its own "
        "overwrite-idempotent codes_batches/batch_<id>/ dir (replays "
        "rewrite themselves; the probe's listing is _SUCCESS-gated), "
        "and every probe serves batch-built + appended + streamed "
        "codes as ONE index. Hash-checked against the q121 brute "
        "oracle verbatim."
    ),
)
def q130_rag_index_stream(spark, sf_dir):
    import os

    from kfai_pipeline_spark.plans.rag import ParsedQuery, retrieve_tiered
    from kfai_pipeline_spark.plans.rag import build_retrieval_index
    from kfai_pipeline_spark.streaming.index_maintain import (
        maintain_ann_index_stream,
    )

    fixture, _ = _tiered_rag_fixture(
        spark, sf_dir, "sq8", "q121", build=False
    )
    root = os.path.join(
        _scratch_root(), f"kfai_q130_{_scratch_tag(spark, sf_dir)}"
    )
    idx = os.path.join(root, "sq8")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done) and fixture.where(
        F.col("doc_id") % 2 == 0
    ).limit(1).count() == 0:
        # empty seed half (the empty-input sweep): no artifacts to
        # maintain against — the maintainer rightly raises there, so
        # build the (empty) index and serve the contract empty frame
        build_retrieval_index(fixture, idx, id_col="doc_id")
        os.makedirs(root, exist_ok=True)
        with open(done, "w") as fh:
            fh.write("ok")
    if not os.path.exists(done):
        # seed build on the even half; stream the odd half in two
        # sequentially-written files (modification-time order = epoch
        # order, the file-source contract)
        build_retrieval_index(
            fixture.where(F.col("doc_id") % 2 == 0), idx, id_col="doc_id"
        )
        src = os.path.join(root, "src")
        odd = fixture.where(F.col("doc_id") % 2 == 1).select(
            "doc_id", "embedding"
        )
        mid = 500  # fixture doc_ids are contiguous from 1; any split works
        odd.where(F.col("doc_id") < mid).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f0")
        odd.where(F.col("doc_id") >= mid).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f1")
        stream = (
            spark.readStream.schema(odd.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*")
        )
        q = maintain_ann_index_stream(
            stream, idx, os.path.join(root, "ckpt")
        )
        q.awaitTermination()
        # completion marker AFTER the full drain: a crashed partial run
        # re-drains from the checkpoint, never serves half an index
        with open(done, "w") as fh:
            fh.write("ok")
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    if (
        qrow is None
        or qrow[0] is None
        or all(float(x) == 0.0 for x in qrow[0])
    ):
        return spark.createDataFrame(
            [], "doc_id long, video_id string, start_time double, score double"
        )
    qv = [float(x) for x in qrow[0]]
    parsed = ParsedQuery(shows=["src1", "src3", "src5", "src7"])
    n = fixture.count()
    out = retrieve_tiered(
        fixture, qv, parsed, k=10, id_col="doc_id", tier="ann",
        index_path=idx, refine=max(64, -(-n // 10)),
    )
    return out.select("doc_id", "video_id", "start_time", "score").orderBy(
        F.desc("score"), "video_id", "start_time"
    )


# -------- Q131: index drift stats (the measurable rebuild trigger)
@register(
    "q131_index_drift",
    # The rebuild trigger as a number: per-dim [min,max] over the SEED
    # half (exactly what quantization_stats freezes at build — NULLs
    # excluded, zero-norm kept) replayed in DuckDB via
    # unnest+generate_subscripts; the incoming odd half carries
    # injected drift (vec_id % 10 == 1 scaled x3). Flag/overshoot
    # arithmetic is per-row IEEE-identical (no grouped float SUMs:
    # counts, an exact rational frac, and a MAX — all fold-order-free).
    oracle="""
    WITH seed AS (
        SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        WHERE vec_id % 2 = 0 AND embedding IS NOT NULL
    ),
    dims AS (
        SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM (
            SELECT unnest(v) AS x, generate_subscripts(v, 1) AS i FROM seed
        ) GROUP BY i
    ),
    incoming AS (
        SELECT vec_id,
               CASE WHEN vec_id % 10 = 1
                    THEN list_transform(CAST(embedding AS DOUBLE[]),
                                        x -> x * 3.0)
                    ELSE CAST(embedding AS DOUBLE[]) END AS v
        FROM embeddings
        WHERE vec_id % 2 = 1 AND embedding IS NOT NULL
          AND list_inner_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[])) > 0
    ),
    -- HAVING guards the no-index posture (empty or all-NULL seed):
    -- zero dims rows -> zero lims rows -> zero monitored rows, matching
    -- the builder's early return; without it list() over nothing makes
    -- one NULL-lists row and incoming rows would still count
    lims AS (
        SELECT list(lo ORDER BY i) AS los, list(hi ORDER BY i) AS his
        FROM dims HAVING COUNT(*) > 0
    ),
    -- per PHYSICAL row via list lambdas, never GROUP BY vec_id: the
    -- dup-id sweep's fixture carries duplicated ids, and a grouped
    -- form would collapse two copies into one monitored row while the
    -- Spark arm stays row-faithful (round-9 dupid-sweep catch)
    per_row AS (
        SELECT CASE WHEN len(list_filter(list_zip(r.v, los, his),
                        s -> s[1] < s[2] OR s[1] > s[3])) > 0
                    THEN 1 ELSE 0 END AS is_out,
               list_max(list_transform(list_zip(r.v, los, his),
                   s -> CASE
                        WHEN s[1] > s[3] THEN (s[1] - s[3]) /
                             (CASE WHEN s[3] <> s[2]
                                   THEN s[3] - s[2] ELSE 1 END)
                        WHEN s[1] < s[2] THEN (s[2] - s[1]) /
                             (CASE WHEN s[3] <> s[2]
                                   THEN s[3] - s[2] ELSE 1 END)
                        ELSE 0.0 END)) AS overshoot
        FROM incoming r, lims
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(is_out), 0) AS BIGINT) AS n_out_of_range,
           CASE WHEN COUNT(*) = 0 THEN 0.0
                ELSE ROUND(SUM(is_out) / CAST(COUNT(*) AS DOUBLE), 4)
           END AS frac_out_of_range,
           ROUND(COALESCE(MAX(overshoot), 0.0), 4) AS max_overshoot
    FROM per_row
    """,
    doc=(
        "Index drift statistics (similarity.index_drift_stats — the "
        "README freshness column's rebuild trigger as a measurement): "
        "fraction of an incoming batch with any dimension outside the "
        "index's frozen build-time [min,max] (those dims SATURATE at "
        "encode) and the worst relative overshoot, one JVM-side "
        "aggregate over the batch. Hash-checked against a per-dim "
        "min/max replay in DuckDB over the same seed/incoming split "
        "with injected x3 drift."
    ),
)
def q131_index_drift(spark, sf_dir):
    import os

    from kfai_pipeline_spark.operators.similarity import (
        index_drift_stats,
        write_sq8_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.where((F.col("vec_id") % 2 == 0))
    if seed.where(F.col("embedding").isNotNull()).limit(1).count() == 0:
        # empty seed (the empty-input sweep): no index exists to drift
        # from — the operator rightly raises, so the row reports the
        # zero-drift monitor frame the oracle computes over nothing
        return spark.createDataFrame(
            [(0, 0, 0.0, 0.0)],
            "n_rows long, n_out_of_range long, frac_out_of_range double, "
            "max_overshoot double",
        )
    root = os.path.join(
        _scratch_root(), f"kfai_q131_{_scratch_tag(spark, sf_dir)}"
    )
    idx = os.path.join(root, "sq8")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        write_sq8_index(seed, idx)
        os.makedirs(root, exist_ok=True)
        with open(done, "w") as fh:
            fh.write("ok")
    incoming = emb.where(F.col("vec_id") % 2 == 1).select(
        "vec_id",
        F.when(
            F.col("vec_id") % 10 == 1,
            F.transform(S._as_double("embedding"), lambda x: x * 3.0),
        )
        .otherwise(S._as_double("embedding"))
        .alias("embedding"),
    )
    return index_drift_stats(incoming, idx)


# ------ Q133: committed serving-pointer lifecycle (init/stream/compact)
@register(
    "q133_rag_serving_lifecycle",
    # the q121 brute oracle VERBATIM: an index root initialized from
    # half the corpus, maintained from an AvailableNow stream of the
    # other half through the VERSIONED maintainer (shared stamped
    # epochs), then COMPACTED (manifest fold + committed pointer flip)
    # must serve the same rows as brute over the union — the proof
    # that the whole maintenance lifecycle is semantics-free
    oracle=_TIERED_RAG_ORACLE,
    doc=(
        "Committed serving-pointer lifecycle (operators/"
        "index_lifecycle.py, round-10 verdict item #2 — rollup.py's "
        "version protocol promoted to the ANN index): versions are "
        "immutable v_N dirs gated by a _COMMITTED marker and a "
        "recoverable _LATEST pointer; streamed epochs land in ONE "
        "shared root directory stamped with their artifacts lineage; "
        "compaction pins the epoch set it folds and records it in the "
        "new version's manifest, so an epoch committing mid-compaction "
        "is included-or-still-served — never silently dropped (the "
        "round-9 operational hazard, closed by membership instead of "
        "locking). Hash-checked: init(even half) + streamed odd half "
        "+ compact serves the q121 brute oracle verbatim through the "
        "root."
    ),
)
def q133_rag_serving_lifecycle(spark, sf_dir):
    import os

    from kfai_pipeline_spark.operators.index_lifecycle import (
        compact_serving_index,
        init_serving_index,
        maintain_serving_index_stream,
    )
    from kfai_pipeline_spark.plans.rag import ParsedQuery, retrieve_tiered

    fixture, _ = _tiered_rag_fixture(spark, sf_dir, "sq8", "q121", build=False)
    root = os.path.join(
        _scratch_root(), f"kfai_q133_{_scratch_tag(spark, sf_dir)}"
    )
    idx = os.path.join(root, "serving")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done) and fixture.where(
        F.col("doc_id") % 2 == 0
    ).limit(1).count() == 0:
        # empty seed half (the empty-input sweep): nothing to maintain
        # against — initialize over the (empty) fixture and serve the
        # contract empty frame (q130's degradation, versioned)
        init_serving_index(fixture, idx, kind="sq8", id_col="doc_id")
        os.makedirs(root, exist_ok=True)
        with open(done, "w") as fh:
            fh.write("ok")
    if not os.path.exists(done):
        init_serving_index(
            fixture.where(F.col("doc_id") % 2 == 0), idx, kind="sq8",
            id_col="doc_id",
        )
        src = os.path.join(root, "src")
        odd = fixture.where(F.col("doc_id") % 2 == 1).select(
            "doc_id", "embedding"
        )
        mid = 500  # fixture doc_ids are contiguous from 1; any split works
        odd.where(F.col("doc_id") < mid).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f0")
        odd.where(F.col("doc_id") >= mid).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f1")
        stream = (
            spark.readStream.schema(odd.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*")
        )
        q = maintain_serving_index_stream(
            stream, idx, os.path.join(root, "ckpt")
        )
        q.awaitTermination()
        # fold the streamed epochs + flip the committed pointer; the
        # serve below goes through the ROOT, so it proves resolution
        # reads the post-compaction version
        stats = compact_serving_index(spark, idx)
        assert stats["version"] == 1, stats
        with open(done, "w") as fh:
            fh.write("ok")
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    if (
        qrow is None
        or qrow[0] is None
        or all(float(x) == 0.0 for x in qrow[0])
    ):
        return spark.createDataFrame(
            [], "doc_id long, video_id string, start_time double, score double"
        )
    qv = [float(x) for x in qrow[0]]
    parsed = ParsedQuery(shows=["src1", "src3", "src5", "src7"])
    n = fixture.count()
    out = retrieve_tiered(
        fixture, qv, parsed, k=10, id_col="doc_id", tier="ann",
        index_path=idx, refine=max(64, -(-n // 10)),
    )
    return out.select("doc_id", "video_id", "start_time", "score").orderBy(
        F.desc("score"), "video_id", "start_time"
    )


# ------- Q135: self-healing streaming maintainer (drift policy in-fold)
@register(
    "q135_rag_selfheal_stream",
    # the q121 brute oracle VERBATIM once more: a root seeded from half
    # the corpus and maintained by the DRIFT-ARMED streaming maintainer
    # — a fresh micro-batch lands as an epoch, a drifted one (the q131
    # x3 injection arriving THROUGH the ingest stream) triggers an
    # in-fold rebuild from the corpus table — must serve brute-identical
    # rows over the full corpus afterward. The builder asserts the
    # policy CONTRACT out-of-band (fired iff the measurement breached,
    # reproducible because epochs never change the frozen artifacts the
    # fold measures against), since a no-op degradation would still
    # hash-match.
    oracle=_TIERED_RAG_ORACLE,
    doc=(
        "Self-healing streaming index maintenance (index_lifecycle."
        "maintain_serving_index_stream(corpus_fn=...), X53c — X52b's "
        "maintainer composed with X53b's drift policy): every "
        "micro-batch is measured against the serving artifacts FIRST "
        "(rebuild_if_drifted); on breach the index retrains from the "
        "corpus table into v_{N+1} inside the fold — the one place the "
        "rebuild's quiesce requirement holds BY CONSTRUCTION, because "
        "the fold is the index's only epoch writer and is synchronous "
        "— and the batch's epoch is skipped (its documents serve from "
        "the rebuilt base); otherwise the batch lands as a plain "
        "stamped epoch. Hash-checked against the q121 brute oracle "
        "through the root after the stream drains."
    ),
)
def q135_rag_selfheal_stream(spark, sf_dir):
    import os

    from kfai_pipeline_spark.operators.index_lifecycle import (
        init_serving_index,
        maintain_serving_index_stream,
        serving_version,
    )
    from kfai_pipeline_spark.operators.similarity import index_drift_stats
    from kfai_pipeline_spark.plans.rag import ParsedQuery, retrieve_tiered

    fixture, _ = _tiered_rag_fixture(spark, sf_dir, "sq8", "q135", build=False)
    root = os.path.join(
        _scratch_root(), f"kfai_q135_{_scratch_tag(spark, sf_dir)}"
    )
    idx = os.path.join(root, "serving")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done) and fixture.where(
        F.col("embedding").isNotNull()
    ).limit(1).count() == 0:
        # empty corpus (the empty-input sweep): nothing to seed or
        # maintain — serve the contract empty frame (q134's degradation)
        return spark.createDataFrame(
            [], "doc_id long, video_id string, start_time double, score double"
        )
    if not os.path.exists(done):
        seed = fixture.where(F.col("doc_id") % 2 == 0)
        if seed.where(F.col("embedding").isNotNull()).limit(1).count() == 0:
            # seed half empty: no artifacts to measure drift against —
            # degrade to the plain full build (the maintainer never runs)
            init_serving_index(fixture, idx, kind="sq8", id_col="doc_id")
        else:
            init_serving_index(seed, idx, kind="sq8", id_col="doc_id")
            # ONE streamed batch: the odd half scaled x3 — cosine is
            # scale-invariant, so the semantic content the corpus table
            # holds is unchanged, but the SQ8 range monitor reads the x3
            # values as out-of-range (the q131/q134 injection, arriving
            # through the ingest stream this time). A single batch keeps
            # the policy assert exactly reproducible out-of-band: the
            # fold measures it against the same frozen v_0 artifacts the
            # builder can measure against here. (The two-batch
            # fresh-epoch-then-drifted-rebuild interleaving is pinned by
            # a deterministic unit test instead — at small SFs a "fresh"
            # odd half legitimately overshoots the even half's per-dim
            # min/max, the q134 quiet-arm lesson, so its fold decision
            # is fixture-dependent and CANNOT be asserted from an oracle
            # row.)
            odd = fixture.where(F.col("doc_id") % 2 == 1).select(
                "doc_id",
                F.transform(
                    S._as_double("embedding"), lambda x: x * 3.0
                ).alias("embedding"),
            )
            src = os.path.join(root, "src")
            odd.coalesce(1).write.mode("overwrite").parquet(f"{src}/f0")
            stream = (
                spark.readStream.schema(odd.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{src}/f*")
            )
            drifted = spark.read.parquet(f"{src}/f0")
            expect_fire = drifted.limit(1).count() > 0 and (
                index_drift_stats(
                    drifted, f"{idx}/v_0", id_col="doc_id"
                ).collect()[0]["frac_out_of_range"]
                > 0.05
            )
            q = maintain_serving_index_stream(
                stream, idx, os.path.join(root, "ckpt"),
                corpus_fn=lambda: fixture, max_frac_out_of_range=0.05,
            )
            q.awaitTermination()
            # the policy wiring: rebuilt iff the measurement breached
            # (a degenerate odd half — all zero-norm, hence excluded by
            # the fixture, or empty — never fires; the maintainer then
            # lands the batch as a plain epoch and base+epoch still
            # cover the full corpus, so the parity row stands either
            # way: the rebuilt base serves the fixture's ORIGINAL
            # vectors via corpus_fn, and the exact re-score reads the
            # docs frame in both paths)
            assert serving_version(spark, idx) == (
                1 if expect_fire else 0
            ), (expect_fire, serving_version(spark, idx))
        os.makedirs(root, exist_ok=True)
        with open(done, "w") as fh:
            fh.write("ok")
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    if (
        qrow is None
        or qrow[0] is None
        or all(float(x) == 0.0 for x in qrow[0])
    ):
        return spark.createDataFrame(
            [], "doc_id long, video_id string, start_time double, score double"
        )
    qv = [float(x) for x in qrow[0]]
    parsed = ParsedQuery(shows=["src1", "src3", "src5", "src7"])
    n = fixture.count()
    out = retrieve_tiered(
        fixture, qv, parsed, k=10, id_col="doc_id", tier="ann",
        index_path=idx, refine=max(64, -(-n // 10)),
    )
    return out.select("doc_id", "video_id", "start_time", "score").orderBy(
        F.desc("score"), "video_id", "start_time"
    )


# ------------- Q137: OPQ-rotated IVFPQ serving (X54 — Ge et al. 2013)
@register(
    "q137_rag_tiered_opq",
    # the q121 brute oracle VERBATIM with the OPQ rotation on: an
    # orthogonal residual rotation trained into the index (codes hold
    # r@O, the probe LUT rotates the query side symmetrically) must be
    # semantics-free in the exhaustive-probe regime — rotation moves
    # the OPERATING CURVE (measured on the clustered fixture,
    # BASELINE §5aa), never the exact-re-rank result
    oracle=_TIERED_RAG_ORACLE,
    doc=(
        "OPQ-rotated IVFPQ serving (X54 — Ge et al., 'Optimized "
        "Product Quantization', CVPR 2013; the Faiss OPQx,IVFy,PQz "
        "pre-transform): train_ivfpq(opq_iters>0) learns an orthogonal "
        "residual rotation by alternating PQ fits with orthogonal-"
        "Procrustes updates (closed-form SVD) on the driver sample; "
        "codes encode r@O, probes rotate the query side of the ADC "
        "LUT, appends/epochs/compaction read the frozen rotation from "
        "the artifacts. Hash-checked against the q121 brute oracle "
        "through retrieve_tiered(index_kind='ivfpq') in the "
        "exhaustive-probe regime."
    ),
)
def q137_rag_tiered_opq(spark, sf_dir):
    return _tiered_rag_parity(spark, sf_dir, kind="ivfpq", opq_iters=5)


# -------- Q136: the stage-10 pipeline entry (init -> delta -> serve)
@register(
    "q136_rag_index_stage",
    # the q121 brute oracle VERBATIM a final time: the app's stage-10
    # maintenance entry (index_maintain — the reference's
    # build_vector_store RESUME over the materialized store,
    # ref build_vector_store.py:38-69) run twice over a growing store
    # (even half -> init; full store -> left-anti delta measured, then
    # epoch or drift-rebuild) must serve brute-identical rows through
    # the root. The builder asserts the stage CONTRACT (init ->
    # epoch/rebuild -> none) — hash parity alone can't see the
    # incremental path.
    oracle=_TIERED_RAG_ORACLE,
    doc=(
        "Index lifecycle as a pipeline stage (app.index_maintain, "
        "X53d — stage '10' in the reference CLI chain): first run "
        "builds the serving root from the store; later runs left-anti "
        "the store's not-yet-indexed chunks against the serving codes "
        "(deterministic xxhash64 surrogate over the composite chunk "
        "key), drift-measure them (breach -> full-store rebuild into "
        "v_{N+1}; fresh -> one stamped epoch), and no-op when nothing "
        "is new. Hash-checked against the q121 brute oracle through "
        "the root after the incremental run."
    ),
)
def q136_rag_index_stage(spark, sf_dir):
    import os

    from kfai_pipeline_spark.app import _with_chunk_id, index_maintain
    from kfai_pipeline_spark.plans.rag import ParsedQuery, retrieve_tiered

    fixture, _ = _tiered_rag_fixture(spark, sf_dir, "sq8", "q136", build=False)
    root = os.path.join(
        _scratch_root(), f"kfai_q136_{_scratch_tag(spark, sf_dir)}"
    )
    wd = os.path.join(root, "ws")
    done = os.path.join(root, "_DONE")
    store_cols = [
        "doc_id", "video_id", "start_time", "show_name", "published_at",
        "title", "embedding",
    ]
    if not os.path.exists(done) and fixture.limit(1).count() == 0:
        # empty corpus (the empty-input sweep): nothing to index or
        # serve — the contract empty frame
        return spark.createDataFrame(
            [], "doc_id long, video_id string, start_time double, score double"
        )
    if not os.path.exists(done):
        store_path = os.path.join(wd, "store")
        seed = fixture.where(F.col("doc_id") % 2 == 0).select(*store_cols)
        if seed.limit(1).count() == 0:
            # seed half empty: an empty-built index cannot measure the
            # delta's drift (index_drift_stats rightly raises) — start
            # the store FULL, so init covers everything and the second
            # run exercises the no-op arm
            fixture.select(*store_cols).write.mode("overwrite").parquet(
                store_path
            )
            s1 = index_maintain(spark, wd)
            assert s1["action"] == "init", s1
        else:
            seed.write.mode("overwrite").parquet(store_path)
            s1 = index_maintain(spark, wd)
            assert s1["action"] == "init", s1
            fixture.where(F.col("doc_id") % 2 == 1).select(
                *store_cols
            ).write.mode("append").parquet(store_path)
            s2 = index_maintain(spark, wd)
            assert s2["action"] in ("epoch", "rebuild"), s2
        s3 = index_maintain(spark, wd)
        assert s3 == {"action": "none", "chunks_indexed": 0}, s3
        os.makedirs(root, exist_ok=True)
        with open(done, "w") as fh:
            fh.write("ok")
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    if (
        qrow is None
        or qrow[0] is None
        or all(float(x) == 0.0 for x in qrow[0])
    ):
        return spark.createDataFrame(
            [], "doc_id long, video_id string, start_time double, score double"
        )
    qv = [float(x) for x in qrow[0]]
    parsed = ParsedQuery(shows=["src1", "src3", "src5", "src7"])
    n = fixture.count()
    out = retrieve_tiered(
        _with_chunk_id(fixture), qv, parsed, k=10, id_col="__chunk_id",
        tier="ann", index_path=os.path.join(wd, "index"),
        refine=max(64, -(-n // 10)),
    )
    return out.select("doc_id", "video_id", "start_time", "score").orderBy(
        F.desc("score"), "video_id", "start_time"
    )


# --------- Q134: drift-triggered rebuild as a lifecycle op (the policy)
@register(
    "q134_rag_drift_rebuild",
    # the q121 brute oracle VERBATIM again: a root seeded from half the
    # corpus whose drift monitor FIRES (x3-scaled incoming, the q131
    # injection) rebuilds from the full corpus table into a fresh
    # version and flips the pointer — after which serving through the
    # root is brute-identical over the full corpus. The builder
    # asserts the policy CONTRACT (rebuilt fired, version bumped,
    # fresh-regime incoming does NOT fire) — a no-op rebuild would
    # still hash-match, so the row alone can't certify the trigger.
    oracle=_TIERED_RAG_ORACLE,
    doc=(
        "Drift-triggered index rebuild (index_lifecycle."
        "rebuild_if_drifted, round-10 verdict item #5 — the README "
        "decision table's 'REBUILD, not deeper appends' row as code): "
        "index_drift_stats measures the incoming batch against the "
        "serving version's frozen artifacts; on breach the index "
        "retrains from the corpus table into v_{N+1} with a bumped "
        "artifacts lineage (stale epochs retire by stamp mismatch) "
        "and the committed pointer flips. Hash-checked against the "
        "q121 brute oracle through the root after the rebuild."
    ),
)
def q134_rag_drift_rebuild(spark, sf_dir):
    import os

    from kfai_pipeline_spark.operators.index_lifecycle import (
        init_serving_index,
        rebuild_if_drifted,
        serving_version,
    )
    from kfai_pipeline_spark.plans.rag import ParsedQuery, retrieve_tiered

    fixture, _ = _tiered_rag_fixture(spark, sf_dir, "sq8", "q121", build=False)
    root = os.path.join(
        _scratch_root(), f"kfai_q134_{_scratch_tag(spark, sf_dir)}"
    )
    idx = os.path.join(root, "serving")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done) and fixture.where(
        F.col("embedding").isNotNull()
    ).limit(1).count() == 0:
        # empty corpus (the empty-input sweep): no index exists to
        # drift from (index_drift_stats rightly raises on an
        # empty-built index) — serve the contract empty frame
        return spark.createDataFrame(
            [], "doc_id long, video_id string, start_time double, score double"
        )
    if not os.path.exists(done):
        seed = fixture.where(F.col("doc_id") % 2 == 0)
        if seed.where(F.col("embedding").isNotNull()).limit(1).count() == 0:
            # seed half empty: no artifacts to measure drift against —
            # degrade to the plain full build (rebuild never fires)
            init_serving_index(fixture, idx, kind="sq8", id_col="doc_id")
        else:
            init_serving_index(seed, idx, kind="sq8", id_col="doc_id")
            incoming = fixture.where(F.col("doc_id") % 2 == 1).select(
                "doc_id", "embedding"
            )
            # quiet arm: an EMPTY ingest window reads as zero drift BY
            # CONTRACT (index_drift_stats) and must never fire — the
            # guarantee holds on every fixture, unlike "fresh data is
            # in-range", which the null sweep's 20-vector fixture
            # disproved (the odd half legitimately overshoots the even
            # half's per-dim min/max when n is tiny)
            quiet = rebuild_if_drifted(
                fixture, incoming.limit(0), idx, id_col="doc_id",
                max_frac_out_of_range=0.05,
            )
            assert quiet["rebuilt"] is False, quiet
            assert serving_version(spark, idx) == 0, quiet
            incoming_drifted = incoming.select(
                "doc_id",
                F.transform(
                    S._as_double("embedding"), lambda x: x * 3.0
                ).alias("embedding"),
            )
            fired = rebuild_if_drifted(
                fixture, incoming_drifted, idx, id_col="doc_id",
                max_frac_out_of_range=0.05,
            )
            # the policy wiring: rebuilt iff the measurement breached
            assert fired["rebuilt"] == (
                fired["stats"]["frac_out_of_range"] > 0.05
            ), fired
            if fired["rebuilt"]:
                assert serving_version(spark, idx) == 1, fired
            else:
                # degenerate fixture (e.g. an all-zero-norm odd half:
                # x3 of nothing monitored never breaches) — the parity
                # row still needs the FULL corpus served, so take the
                # rebuild the policy would have taken on real drift
                from kfai_pipeline_spark.operators.index_lifecycle import (
                    rebuild_serving_index,
                )

                rebuild_serving_index(fixture, idx, kind="sq8", id_col="doc_id")
        os.makedirs(root, exist_ok=True)
        with open(done, "w") as fh:
            fh.write("ok")
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    if (
        qrow is None
        or qrow[0] is None
        or all(float(x) == 0.0 for x in qrow[0])
    ):
        return spark.createDataFrame(
            [], "doc_id long, video_id string, start_time double, score double"
        )
    qv = [float(x) for x in qrow[0]]
    parsed = ParsedQuery(shows=["src1", "src3", "src5", "src7"])
    n = fixture.count()
    out = retrieve_tiered(
        fixture, qv, parsed, k=10, id_col="doc_id", tier="ann",
        index_path=idx, refine=max(64, -(-n // 10)),
    )
    return out.select("doc_id", "video_id", "start_time", "score").orderBy(
        F.desc("score"), "video_id", "start_time"
    )
