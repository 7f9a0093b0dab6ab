"""Compare two benchmark records, refusing records from different hosts.

    python3 perfbench/compare.py perfbench/results/A.json perfbench/results/B.json

Exits 2 without comparing when the records' host fingerprints differ (core
count, memory, Spark, DuckDB or Python version, effective
``SPARK_GRAFT_CPUS``) or when they ran different workloads. Otherwise it
prints each metric of both records with the ratio B/A. When one record is
traced and the other is not, it also prints the tracing overhead: the
traced pass time minus the untraced one.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import comparable  # noqa: E402


def compare(a: dict, b: dict) -> list[str]:
    """Report lines; raises ValueError when the records are not comparable."""
    if a["workload"] != b["workload"]:
        raise ValueError(f"different workloads: {a['workload']} vs {b['workload']}")
    diff = comparable(a["fingerprint"], b["fingerprint"])
    if diff:
        detail = ", ".join(f"{k}: {a['fingerprint'].get(k)} vs {b['fingerprint'].get(k)}" for k in diff)
        raise ValueError(f"host fingerprints differ ({detail})")
    lines = [f"{'metric':48} {'A':>12} {'B':>12} {'B/A':>7}"]
    for section in ("end_to_end", "layers"):
        for name in sorted(set(a[section]) | set(b[section])):
            va, vb = a[section].get(name), b[section].get(name)
            ratio = f"{vb / va:7.3f}" if va and vb is not None else "      -"
            fa = f"{va:12.4f}" if va is not None else f"{'-':>12}"
            fb = f"{vb:12.4f}" if vb is not None else f"{'-':>12}"
            lines.append(f"{name:48} {fa} {fb} {ratio}")
    if a["trace"] != b["trace"]:
        traced, plain = (a, b) if a["trace"] else (b, a)
        over = traced["end_to_end"]["pass_s"] - plain["end_to_end"]["pass_s"]
        lines.append(f"tracing overhead (traced pass_s - untraced pass_s): {over:.4f} s")
    return lines


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    records = []
    for path in argv:
        with open(path) as f:
            records.append(json.load(f))
    try:
        lines = compare(*records)
    except ValueError as e:
        print(f"perfbench: refusing to compare: {e}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
