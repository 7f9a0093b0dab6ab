"""Reference-shaped fixture generator (FIXTURES.md §1.4): deterministic
video records with raw transcript snippets, including the documented
edge rows (null transcripts, empty hosts, published_at=0, dirty text)."""

from __future__ import annotations

import random
import uuid

HOST_POOL = [f"Host {chr(65 + i)}" for i in range(10)]
SHOWS = ["Alpha Show", "Beta Cast", "Gamma Hour"]

DIRTY_SNIPPETS = [
    "watch [ __ ] this",
    "[Music] hello there",
    ">> SPEAKER: hi",
    "curly ‘quotes’ and “double”",
    "zero​width\xa0space",
]


def make_video_records(n: int = 30, seed: int = 7) -> list[dict]:
    rng = random.Random(seed)
    records = []
    for i in range(n):
        video_id = f"vid{i:08d}"
        year = rng.choice([2019, 2021, 2023])
        month = rng.choice([1, 6, 11])
        published_at = int(
            __import__("datetime")
            .datetime(year, month, 1 + rng.randrange(25), tzinfo=__import__("datetime").timezone.utc)
            .timestamp()
        )
        n_snips = rng.randrange(5, 60)
        snippets = []
        t = 0.0
        for j in range(n_snips):
            words = " ".join(
                rng.choice(["the", "quick", "brown", "fox", "jumps", "data", "spark"])
                for _ in range(rng.randrange(3, 12))
            )
            if rng.random() < 0.1:
                words = rng.choice(DIRTY_SNIPPETS) + " " + words
            snippets.append({"text": words, "start": round(t, 2), "duration": 4.0})
            t += rng.uniform(2.0, 8.0)

        rec = {
            "id": i,
            "video_id": video_id,
            "show_name": rng.choice(SHOWS),
            "hosts": rng.sample(HOST_POOL, rng.randrange(0, 4)),
            "title": f"Episode {i}",
            "description": f"Description for {video_id}",
            "published_at": published_at,
            "duration": int(t),
            "transcript": snippets,
        }
        # documented edge rows
        if i == 0:
            rec["transcript"] = None
        if i == 1:
            rec["published_at"] = 0
        records.append(rec)
    return records


def plan_leaf_kinds(df) -> list[str]:
    """Class names of ``df``'s optimized logical plan leaves
    (``LocalRelation``, ``LogicalRelation`` for a file scan, ...)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


def jobs_started(spark, action) -> tuple[object, int]:
    """Run ``action`` under a fresh job group; its result and job count."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    # setJobGroup sets all three; restore each so the shared session's
    # later jobs carry none of them
    keys = (
        "spark.jobGroup.id",
        "spark.job.description",
        "spark.job.interruptOnCancel",
    )
    prev = {key: sc.getLocalProperty(key) for key in keys}
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        for key, value in prev.items():
            sc.setLocalProperty(key, value)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
