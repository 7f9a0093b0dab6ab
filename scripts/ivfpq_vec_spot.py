#!/usr/bin/env python
"""IVFPQ spot at 10M vectors (round 7, X44) — the composition of
ivf_nprobe_curve.py (deleted) and pq_vec_spot.py. Trains coarse=256 clusters +
residual PQ (m=16 x 256 codes, the measured flat-PQ operating point),
writes the cluster-partitioned 16-byte-code index, then sweeps nprobe
with refine=32, recording recall vs exact and wall vs the brute BLAS
scan. The flat-PQ/SQ8 rows from BASELINE §5n/§5g are the comparands:
the claim is that routing reads ~nprobe/256 of the code bytes while
holding recall near the flat-ADC ceiling.
Usage: python scripts/ivfpq_vec_spot.py [dir] [n_q] [k]
"""
from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from kfai_pipeline_spark.operators import similarity as S  # noqa: E402
from kfai_pipeline_spark.session import get_spark  # noqa: E402


def du(path: str) -> int:
    return int(subprocess.check_output(["du", "-sb", path]).split()[0])


def main() -> None:
    fixture = sys.argv[1] if len(sys.argv) > 1 else "bench_vec10m"
    n_q = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    spark = get_spark()
    scratch = tempfile.mkdtemp(prefix="ivfpq_spot_")
    out: dict = {"metric": "vec10m_ivfpq_spot", "k": k, "n_queries": n_q}
    try:
        vectors = spark.read.parquet(f"{fixture}/embeddings.parquet")
        out["n_vectors"] = vectors.count()
        queries = vectors.where(F.col("vec_id") < n_q).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        queries.cache().count()

        t0 = time.perf_counter()
        cents, books = S.train_ivfpq(
            vectors, n_clusters=256, m=16, n_codes=256
        )
        out["train_s"] = round(time.perf_counter() - t0, 1)
        t0 = time.perf_counter()
        idx = f"{scratch}/ivfpq"
        S.write_ivfpq_index(vectors, idx, cents, books)
        out["encode_s"] = round(time.perf_counter() - t0, 1)
        out["float_parquet_mb"] = du(f"{fixture}/embeddings.parquet") // 2**20
        out["codes_mb"] = du(f"{idx}/codes") // 2**20

        def topk_set(df):
            return {(r["query_id"], r["vec_id"]) for r in df.collect()}

        t0 = time.perf_counter()
        exact = topk_set(S.cosine_topk_blas(vectors, queries, k))
        out["brute_blas_s"] = round(time.perf_counter() - t0, 1)

        out["nprobe_curve"] = []
        for nprobe in (8, 16, 32, 64, 128):
            t0 = time.perf_counter()
            got = topk_set(
                S.ivfpq_topk(
                    spark, idx, queries, k, nprobe=nprobe, refine=32,
                    vectors=vectors,
                )
            )
            out["nprobe_curve"].append(
                {
                    "nprobe": nprobe,
                    "rerank_s": round(time.perf_counter() - t0, 1),
                    "recall": round(len(got & exact) / max(len(exact), 1), 3),
                }
            )
            print(json.dumps(out["nprobe_curve"][-1]), file=sys.stderr)
        print(json.dumps(out))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
