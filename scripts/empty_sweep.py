#!/usr/bin/env python
"""Empty-input sweep (round 6): the FULL registry against zero-row
tables (schemas preserved).

A 100 TB pipeline hits empty inputs constantly — an empty partition,
an empty day, a filter that matched nothing — and "empty" is where
aggregate NULLs, div-by-zero global stats, schema inference, and
kernel shape assumptions all break at once. First run: 8 of 113
queries failed —

  - q09/q41/q44: SQL's grouping sets emit the grand-total () row with
    count 0 over empty input, Spark emits no rows. Pinned to Spark
    semantics with HAVING COUNT(*) > 0 in the oracles (a no-op on any
    non-empty table).
  - q71: funnel counters went NULL (SUM over zero rows) where a report
    must read 0 — coalesced in both engines.
  - q47 (deleted since, with the flat-IVF tier): k-means crashed
    unpacking a 0-dim centroid matrix — an empty codebook now
    short-circuits (train_ivfpq returns empty books).
  - q111: the SQ8 kernel broadcast (1,d)x(0,) — empty index / no
    usable queries now return the contract schema empty.
  - q107: percentile over no events has no split bounds, and a fully
    empty drain commits no batch dirs — both guarded.
  - q51: spark.read.json schema INFERENCE fails on an empty partition
    tree — the read now pins the schema (the S4 contract: never infer
    what you already know).

Usage: python scripts/empty_sweep.py   (~6 min, full registry)
"""
from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    import pyarrow.parquet as pq

    fixture = os.environ.get("SPARK_GRAFT_EMPTY_DIR", "/tmp/empty_fixture")
    os.makedirs(fixture, exist_ok=True)
    src = "/root/testdata/sf0.001"
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        pq.write_table(
            pq.read_table(f"{src}/{t}.parquet").slice(0, 0),
            f"{fixture}/{t}.parquet",
        )
    rc = subprocess.call(
        [sys.executable, f"{REPO}/scripts/driver_sim.py", fixture]
    )
    sys.exit(rc)


if __name__ == "__main__":
    main()
