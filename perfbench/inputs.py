"""Seeded workload inputs. The same seed gives the same inputs; nothing is
downloaded and nothing outside the run's own work directory is read.

- ``video_catalog``: the app chain's source catalog, from
  ``tests.fixtures.make_video_records``.
- ``questions``: question text plus a ``ParsedQuery`` filter.
- ``write_tables``: the ten driver tables (TPC-H-like star schema plus
  events, documents and embeddings) with the schemas and value domains of
  the repo's sf0.01 fixture, generated with NumPy and written with Arrow.
"""

from __future__ import annotations

import os

import numpy as np

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# ---------------------------------------------------------------- app inputs


def video_catalog(n: int, seed: int) -> list[dict]:
    """``n`` seeded video records, a few without a transcript."""
    from tests.fixtures import make_video_records

    return make_video_records(n, seed)


def expected_ingest(records: list[dict]) -> dict[str, int]:
    """Stage counts the chain must report when ``records`` are all new."""
    from kfai_pipeline_spark.operators.chunker import chunk_snippets

    ok = [r for r in records if r["transcript"] is not None]
    return {
        "new_videos": len(ok),
        "null_transcripts": len(records) - len(ok),
        "chunks": sum(len(chunk_snippets(r["transcript"])) for r in ok),
    }


def catalog_frame(spark, records: list[dict]):
    """The catalog as a DataFrame with the app's catalog schema."""
    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType,
    )

    from kfai_pipeline_spark.sources.video_records import RAW_SNIPPET_SCHEMA

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
    return spark.createDataFrame(records, schema)


FILTERS = ("none", "show", "year", "topic")
TOPIC_WORDS = ("quick", "brown", "fox", "jumps", "data", "spark")


def questions(seed: int, records: list[dict]) -> dict[str, tuple[str, dict]]:
    """One question per filter kind, as kind -> (text, filter); the filter
    is the keyword arguments of a ``ParsedQuery``. Each filter keeps a
    value that a transcribed video in ``records`` has (a show, a publishing
    year, a word of a transcript as the topic), so every question finds
    rows. The seed picks the words and the values.

    Host filters are not asked: both retrieval arms compile them to a
    ``LIKE`` over the store's ``ARRAY<STRING>`` hosts column, which Spark
    rejects."""
    import datetime

    rng = np.random.default_rng([seed, 1])
    done = [r for r in records if r["transcript"] is not None and r["published_at"] > 0]

    def pick(values):
        return values[int(rng.integers(len(values)))]

    published = pick(done)["published_at"]
    # a word the transcript cleaning keeps, not one of its noise markers
    said = [w for s in pick(done)["transcript"] for w in s["text"].split() if w in TOPIC_WORDS]
    filters = {
        "none": {},
        "show": {"shows": [pick(sorted({r["show_name"] for r in done}))]},
        "year": {"exact_year": datetime.datetime.fromtimestamp(published, datetime.timezone.utc).year},
        "topic": {"topics": [pick(said)]},
    }
    words = rng.choice(TOPIC_WORDS, len(FILTERS))
    return {
        kind: (f"q{seed}-{kind}: what did they say about {word}?", filters[kind])
        for kind, word in zip(FILTERS, words)
    }


# ---------------------------------------------------------------- tables

_VOCAB = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "cold", "shiny")
_PART_NOUN = ("ring", "bolt", "widget", "gear", "gizmo", "plate", "nut", "pipe")
_PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
_LANGS = ("en", "zh", "de", "fr", "es")


def _days(rng, n: int, start: str, end: str):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi, n).astype("datetime64[D]").astype("datetime64[us]")


def _docs(rng, n: int) -> list[str]:
    texts = []
    for _ in range(n):
        words = rng.choice(_VOCAB, int(rng.integers(10, 100)))
        texts.append(" ".join(words))
    # near-duplicate documents, so the dedup and span queries find work
    for i in range(0, n, 20):
        src = texts[int(rng.integers(n))].split()
        if len(src) > 4:
            src[int(rng.integers(len(src)))] = str(rng.choice(_VOCAB))
        texts[i] = " ".join(src)
    return texts


def write_tables(dst: str, seed: int, scale: float = 0.01) -> None:
    """Write the ten tables at ``scale`` (1.0 = 6M lineitem rows) into
    ``dst/<table>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(10, int(200_000 * scale))
    n_ord = max(10, int(1_500_000 * scale))
    n_line = max(10, int(6_000_000 * scale))
    n_evt = max(10, int(1_000_000 * scale))
    n_doc = max(10, int(50_000 * scale))
    n_vec = max(10, int(50_000 * scale))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(_REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            # a tenth of the customers place no order (the anti-join query)
            "o_custkey": rng.integers(0, max(1, n_cust * 9 // 10), n_ord),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_line),
            "l_linestatus": rng.choice(("O", "F"), n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-05"),
        },
        "events": {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": np.sort(
                np.datetime64("2024-01-01T00:00:00", "us")
                + rng.integers(0, 30 * 86_400 * 1_000_000, n_evt).astype("timedelta64[us]")
            ),
            "user_id": rng.integers(0, max(1, n_evt // 67), n_evt),
            "event_type": rng.choice(_EVENT_TYPES, n_evt),
            "value": money(0.01, 500.0, n_evt),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        },
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_vec),
    }
    for name in TABLES:
        pq.write_table(pa.table(tables[name]), os.path.join(dst, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    texts = _docs(rng, n)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    import pyarrow as pa

    vecs = rng.normal(size=(n, dim))
    # every 25th vector is a near copy of another, so semantic dedup
    # finds clusters above its cosine threshold
    for i in range(0, n, 25):
        vecs[i] = vecs[int(rng.integers(n))] + rng.normal(scale=0.3, size=dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }
