#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Mirrors BASELINE.md §2 (B1-B9 -> registry queries). Method: 1 warm-up
run, median of 5 timed runs, full result fetch. (The DuckDB oracle
baseline used mean-of-3; Spark's per-query scheduling overhead has
higher variance on a shared machine, so the median is the honest
central estimate — it neither hides nor inflates contention spikes.)

Each timed run builds the registry query (REGISTRY[name].build, the
same call perfbench's ``analytics`` workload times) with the plan memo
(queries/base.py _PLAN_MEMO) emptied first: a FRESH plan per run — full
parse/optimize/execute with new shuffles, no shuffle-stage reuse from a
recycled Dataset. Each bench query is Spark-SQL text bound to the
fixture tables (queries/base.py bind_sql), so a build is one spark.sql
call, not Python-side plan construction. Same "full query each run"
contract as the DuckDB oracle baseline; tests/test_oracle.py checks the
same definitions against it.

Bench session conf (BASELINE.md §3 has the experiment matrix):
  - AQE off: its stage-wise materialization is pure overhead on
    sub-second queries (saves ~0.2 s/run total); at 100 TB you keep
    AQE on — the engine default (session.py) does.
  - shuffle.partitions sized to the SF (8 at <=sf0.1, 16 above):
    fewer task launches on sub-100 MB shuffles.
  - preferSortMergeJoin off (r14): with AQE off the static planner
    falls back to SortMergeJoin for any over-broadcast-threshold equi
    join; shuffled-hash skips both sort passes when the build side
    fits per partition. At sf0.1 every bench join broadcasts (plans
    unchanged); at sf10 this was b2's lineitem-orders join — measured
    interleaved in one session: SMJ median 17.6 s vs SHJ 7.4 s with
    much lower spread, result parity exact. (r15: b2's query now joins
    the fact against the broadcast pre-reduced ASIA orders, so the
    conf's remaining sf10 effect is the b3 anti join.) At 100 TB the
    same choice is made adaptively (AQE + skew handling, engine
    default in session.py); forcing it statically here mirrors that
    decision for the AQE-off bench posture. SCOPE (r14 advice): the
    static SHJ build side must fit per partition — validated only at
    the SFs/partition counts this file runs (build sides <=171 MB over
    >=16 partitions). A new SF arm must re-check that fit; past it,
    static SHJ OOMs where SMJ would degrade (measured this round: an
    unpinned build side at sf10 under the 8g heap died with "Can't
    acquire ... bytes to build hash relation").
The JSON also reports "floor_sec": the median wall-clock of
`spark.sql("SELECT 1").collect()` — Spark's fixed per-statement cost
(parse/analyze/optimize/schedule/Py4J fetch) that bounds every query
from below regardless of plan quality. DuckDB's floor on this machine
is <1 ms; queries whose oracle time is within ~2x of our floor are
measuring engine fixed costs, not plan quality.

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The line also carries the 10x growth experiment (BASELINE.md §3d) as
first-class fields, regenerated every round instead of living in
prose: the same suite runs at sf1 ($SPARK_GRAFT_SF1_DIR, default
./bench_sf1, skipped when absent), and DuckDB runs every query's
oracle SQL at both SFs ("duckdb"/"duckdb_total" and the "sf1" object's
twins). "growth_spark" vs "growth_duckdb" is the marginal-cost
evidence: fixed per-statement floor dominates Spark at sf0.1, so the
scaling story lives in how total time GROWS with data.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Drift-tripwire thresholds (round-13 semantics, BASELINE.md §5s
# addendum 8): a query is RAW-flagged at >1.3x its trailing
# per-round median (the historical contract, kept for continuity as
# "flagged_raw"), but the actionable "flagged" list only carries
# flags the run's own evidence cannot explain. Four consecutive
# rounds of flags (r9-r12) all attributed to machine noise at a cost
# of 3-4 fresh attribution sessions each; the two noise signatures
# are mechanical and the run already records both discriminators:
#   - floor noise: Spark's fixed per-statement cost (floor_sec)
#     swings 0.05-0.36 s between sessions while the smallest queries
#     run 0.15-0.7 s. Comparing FLOOR-SUBTRACTED times removes the
#     additive component: if (cur - floor) / (trail_med - trail_floor)
#     <= 1.3 the "drift" is the session floor, not the plan.
#   - co-movement: the same-run DuckDB control moving the same
#     direction beyond 10% means the machine moved, not the plan
#     (Spark and DuckDB read the same files on the same cores). Two
#     granularities, because the per-query controls run 5-80 ms and
#     are themselves floor-noisy: the QUERY's own control >1.1x of
#     its trail, or the SESSION control (duckdb_total) >1.25x of its
#     trail — a whole-suite control move is machine load by
#     definition (measured: a loaded r13 session raw-flagged all 9
#     queries with duckdb_total at 1.55x while three individual
#     controls happened to sit flat).
# A raw flag explained by any of these is annotated in
# "flag_attribution" and suppressed from "flagged"; a genuine
# regression (query up, floor flat, controls flat) still flags
# exactly as before.
#
# b1-SPECIFIC NOTE (§5s addendum 9, after six b1 flags / six load
# attributions r8-r14): b1 is the suite's most load-multiplicative
# query (widest partial-agg state of the nine), so in a degraded host
# era it is routinely the last query left "genuine"-classified — its
# own 80 ms control is sampling luck while the WHOLE-ERA anchors move
# (quiet anchors: duckdb_total ~0.27, floor_sec ~0.05; the r14 era ran
# both at ~1.3x). A seventh b1 flag with this signature needs only the
# anchor check, not a fresh multi-session protocol.
DRIFT_RATIO = 1.3
COMOVE_RATIO = 1.1
SESSION_COMOVE_RATIO = 1.25


def load_bench_history(repo_dir: str, sf_num: float) -> list[dict]:
    """Prior rounds' parsed BENCH_r*.json dicts at the same SF.

    Excludes the HIGHEST-numbered BENCH_r{N}.json: on a re-run the
    current round's own file already exists in the worktree, and a
    drifting query would drag its measurement into the median it is
    compared against, muting the flag (round-8 advice). Cost: on the
    driver's FIRST run of a round (no current file yet) this lags the
    median by one round — acceptable, and it keeps a freshly-flagged
    outlier (r7's B1) out of its own baseline, which is the point of
    a tripwire.
    """
    import glob as _glob
    import re as _re

    paths = sorted(_glob.glob(os.path.join(repo_dir, "BENCH_r*.json")))

    def _rnum(p: str) -> int:
        m = _re.search(r"BENCH_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    if len(paths) > 1:
        paths = [p for p in paths if _rnum(p) != max(map(_rnum, paths))]
    out: list[dict] = []
    for p in paths:
        try:
            with open(p) as fh:
                d = json.load(fh)
        except Exception:
            continue
        # the grading driver wraps this script's JSON line under
        # "parsed" (alongside run metadata); accept both shapes
        d = d.get("parsed", d) or {}
        if d.get("sf") != sf_num:
            continue
        out.append(d)
    return out


def _median(vals: list[float]) -> float:
    return sorted(vals)[len(vals) // 2]


def drift_flags(
    timings: dict[str, float],
    floor_sec: float,
    duck: dict[str, float],
    history: list[dict],
) -> tuple[dict[str, float], list[str], list[str], dict[str, dict]]:
    """Drift tripwire (round-7 item; round-13 floor/co-movement
    semantics — see the module-level rationale at DRIFT_RATIO).

    Returns (median_trail, flagged_raw, flagged, attribution):
      - median_trail: per-query median of prior official rounds'
        timings at this SF (unchanged historical contract);
      - flagged_raw: queries >DRIFT_RATIO x their trailing median on
        RAW times (the pre-r13 "flagged" semantics, kept verbatim);
      - flagged: the subset of flagged_raw the run's own evidence
        does NOT explain — these owe a next-round attribution;
      - attribution: per raw-flagged query, the evidence inline
        (raw ratio, floor-subtracted ratio, control co-movement,
        classification) so a suppressed flag is self-explaining and
        a clean round opens in minutes instead of 3-4 sessions.
    """
    trail: dict[str, list[float]] = {}
    duck_trail: dict[str, list[float]] = {}
    duck_total_trail: list[float] = []
    floor_trail: list[float] = []
    for d in history:
        for qn, v in (d.get("queries") or {}).items():
            if isinstance(v, (int, float)):
                trail.setdefault(qn, []).append(float(v))
        for qn, v in (d.get("duckdb") or {}).items():
            if isinstance(v, (int, float)):
                duck_trail.setdefault(qn, []).append(float(v))
        dt = d.get("duckdb_total")
        if not isinstance(dt, (int, float)) and d.get("duckdb"):
            vals = [v for v in d["duckdb"].values() if isinstance(v, (int, float))]
            dt = sum(vals) if vals else None
        if isinstance(dt, (int, float)) and dt > 0:
            duck_total_trail.append(float(dt))
        fv = d.get("floor_sec")
        if isinstance(fv, (int, float)):
            floor_trail.append(float(fv))

    median_trail = {
        qn: round(_median(vs), 4) for qn, vs in trail.items()
    }
    trail_floor = _median(floor_trail) if floor_trail else 0.0

    # session-level control move: this run's whole-suite DuckDB total
    # vs its trailing median (None when either side is unavailable)
    session_duck_ratio = None
    cur_duck_total = sum(
        v for v in (duck or {}).values() if isinstance(v, (int, float))
    )
    if duck_total_trail and cur_duck_total > 0:
        session_duck_ratio = round(
            cur_duck_total / _median(duck_total_trail), 3
        )

    flagged_raw = sorted(
        qn
        for qn, cur in timings.items()
        if median_trail.get(qn, 0) > 0
        and cur / median_trail[qn] > DRIFT_RATIO
    )

    flagged: list[str] = []
    attribution: dict[str, dict] = {}
    for qn in flagged_raw:
        med = median_trail[qn]
        cur = timings[qn]
        reasons: list[str] = []

        # floor-subtracted ratio: remove the additive per-statement
        # session cost from BOTH sides before comparing. Guard the
        # denominator: a trailing median at/below the trailing floor
        # means the query is pure fixed cost — fall back to the raw
        # ratio rather than divide by ~0.
        adj_den = med - trail_floor
        adj_num = cur - floor_sec
        adj_ratio = (adj_num / adj_den) if adj_den > 1e-4 else cur / med
        if adj_ratio <= DRIFT_RATIO:
            reasons.append("floor-noise")

        # control co-movement: same-run DuckDB for this query vs its
        # own trailing median, same direction beyond COMOVE_RATIO.
        duck_ratio = None
        dcur = (duck or {}).get(qn)
        dvs = duck_trail.get(qn)
        if isinstance(dcur, (int, float)) and dvs:
            dmed = _median(dvs)
            if dmed > 0:
                duck_ratio = round(dcur / dmed, 3)
                if duck_ratio > COMOVE_RATIO:
                    reasons.append("co-moving")

        # whole-session control move (module-level rationale): per-query
        # controls are 5-80 ms and floor-noisy; the suite total is not.
        if (
            session_duck_ratio is not None
            and session_duck_ratio > SESSION_COMOVE_RATIO
        ):
            reasons.append("session-co-moving")

        classification = "+".join(reasons) if reasons else "genuine"
        attribution[qn] = {
            "raw_ratio": round(cur / med, 3),
            "floor_adjusted_ratio": round(adj_ratio, 3),
            "floor_sec": round(floor_sec, 4),
            "trail_floor_sec": round(trail_floor, 4),
            "duckdb_ratio": duck_ratio,
            "session_duckdb_ratio": session_duck_ratio,
            "classification": classification,
        }
        if not reasons:
            flagged.append(qn)

    return median_trail, flagged_raw, flagged, attribution


# B-id -> registry query name (BASELINE.md §2 shapes)
BENCH_QUERIES = {
    "b1_tpchq1_agg": "q07",
    "b2_multijoin": "q22",
    "b3_antijoin": "q05",
    "b4_window_topk": "q10",
    "b5_wordcount": "q18",
    "b6_tumbling": "q28",
    "b7_sessionize": "q25",
    "b8_exact_dedup": "q26",
    "b9_string_agg": "q04",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from kfai_pipeline_spark.queries import REGISTRY
    from kfai_pipeline_spark.queries.base import _PLAN_MEMO
    from kfai_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = 0.1
    spark = get_spark(
        app_name="kfai-bench",
        extra_conf={
            # interactive/bench posture for sub-second queries; the engine
            # default (session.py) keeps AQE on for the 100 TB posture.
            "spark.sql.adaptive.enabled": "false",
            # measured minimum for sub-second shuffles: 4 at sf0.1
            # (vs 8: -28% total — fewer task launches), 8 at sf1; at
            # cluster scale AQE coalesce makes this knob self-sizing.
            "spark.sql.shuffle.partitions": "4" if sf_num <= 0.1 else "8",
            # Split the single-file-per-table fixtures so scans
            # parallelize: at the 128 MB default the 10.8 MB sf0.1
            # lineitem is ONE task and the whole b2 probe runs on 1 of
            # 32 cores (measured: 1 MB splits cut b2 -29%, b1 -48%).
            # The engine default keeps 128 MB — right for a cluster
            # reading many-file 100 TB tables; this is local-bench
            # sizing of the same knob the cluster tunes.
            "spark.sql.files.maxPartitionBytes": (
                "1048576" if sf_num <= 0.1 else "4194304"
            ),
            "spark.sql.files.openCostInBytes": "65536",
            # shuffled-hash over sort-merge when broadcast is off the
            # table (see module docstring: 2.4x on b2@sf10, parity
            # exact, sf0.1 plans untouched — every join there
            # broadcasts; the engine default leaves this to AQE).
            "spark.sql.join.preferSortMergeJoin": "false",
            # no console progress bars: they fill stderr (about 48 KB
            # a run) and the record is the one JSON line on stdout
            "spark.ui.showConsoleProgress": "false",
        },
    )
    init_sec = time.perf_counter() - t0

    # fixed per-statement floor (see module docstring)
    spark.sql("SELECT 1").collect()
    floor_runs = []
    for _ in range(7):
        t = time.perf_counter()
        spark.sql("SELECT 1").collect()
        floor_runs.append(time.perf_counter() - t)
    floor_sec = round(sorted(floor_runs)[len(floor_runs) // 2], 4)

    def run_query(dir_: str, qname: str) -> None:
        _PLAN_MEMO.clear()  # fresh plan: never re-collect a memoized Dataset
        REGISTRY[qname].build(spark, dir_).collect()

    def time_suite(dir_: str, n_runs: int = 5) -> dict[str, float]:
        out: dict[str, float] = {}
        for bench_name, qname in BENCH_QUERIES.items():
            run_query(dir_, qname)  # warm-up (codegen JIT, buffer pools)
            runs = []
            for _ in range(n_runs):
                t = time.perf_counter()
                run_query(dir_, qname)
                runs.append(time.perf_counter() - t)
            out[bench_name] = round(sorted(runs)[len(runs) // 2], 4)
        return out

    def fixture_complete(dir_: str) -> bool:
        import glob as _glob

        tables = [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]
        if not os.path.isdir(dir_):
            return False
        for t in tables:
            p = os.path.join(dir_, f"{t}.parquet")
            if os.path.isfile(p):
                continue
            # multi-file table: the dir must actually contain parquet
            # (a crashed generator can leave it empty)
            if os.path.isdir(p) and _glob.glob(os.path.join(p, "*.parquet")):
                continue
            return False
        return True

    def growth_arm(
        dir_: str,
        conf: dict[str, str],
        n_runs: int = 5,
        arm_key: str | None = None,
        history: list[dict] | None = None,
    ) -> dict:
        """Run the full suite + DuckDB twin at another SF and report
        growth ratios vs the headline run.

        Round 14: the arms self-attribute exactly like the headline
        (r13 verdict item #2 — the sf1/sf10 numbers fed watch-chases
        three rounds running with only a raw ``duckdb_total`` for a
        human to eyeball). ``arm_key`` selects this arm's section in
        prior BENCH_r*.json files; the same drift_flags logic then
        annotates each raw flag with its control co-movement. Raw
        values and all pre-existing keys are unchanged — the new keys
        are additive.
        """
        for k, v in conf.items():
            spark.conf.set(k, v)
        arm_timings = time_suite(dir_, n_runs)
        arm_total = round(sum(arm_timings.values()), 4)
        arm_duck = time_duckdb(dir_)
        arm_duck_total = round(sum(arm_duck.values()), 4)
        out = {
            "queries": arm_timings,
            "total": arm_total,
            "duckdb": arm_duck,
            "duckdb_total": arm_duck_total,
            "growth_spark": round(arm_total / total, 2) if total else None,
            "growth_duckdb": (
                round(arm_duck_total / duck_total, 2) if duck_total else None
            ),
        }
        if arm_key and history:
            # arm sections carry no floor of their own; the session
            # floor is the headline's (same JVM), and each history
            # entry inherits its round's headline floor for the
            # floor-subtracted discriminator.
            arm_hist = [
                {**d[arm_key], "floor_sec": d.get("floor_sec")}
                for d in history
                if isinstance(d.get(arm_key), dict)
            ]
            mt, fraw, fl, attr = drift_flags(
                arm_timings, floor_sec, arm_duck, arm_hist
            )
            out["median_trail"] = mt
            out["flagged_raw"] = fraw
            out["flagged"] = fl
            out["flag_attribution"] = attr
        return out

    def time_duckdb(dir_: str, n_runs: int = 3) -> dict[str, float]:
        """Median oracle-SQL wall per bench query on the same files."""
        import duckdb

        from kfai_pipeline_spark.catalog import TABLES
        from kfai_pipeline_spark.queries import oracle_queries

        oracles = oracle_queries()
        con = duckdb.connect()
        for t_ in TABLES:
            p = f"{dir_}/{t_}.parquet"
            if os.path.isdir(p):  # multi-file table (sf10 fixture)
                p = f"{p}/*.parquet"
            con.execute(f"CREATE VIEW {t_} AS SELECT * FROM '{p}'")
        out: dict[str, float] = {}
        for bench_name, qname in BENCH_QUERIES.items():
            sql = oracles[qname]
            con.execute(sql).fetchall()  # warm-up (buffer pool)
            runs = []
            for _ in range(n_runs):
                t = time.perf_counter()
                con.execute(sql).fetchall()
                runs.append(time.perf_counter() - t)
            out[bench_name] = round(sorted(runs)[len(runs) // 2], 4)
        con.close()
        return out

    timings = time_suite(sf_dir)
    total = round(sum(timings.values()), 4)
    # the DuckDB arm must never discard an already-measured Spark suite
    # (e.g. missing duckdb package, oracle dialect drift). It runs
    # BEFORE the tripwire because the control's co-movement is one of
    # the flag discriminators.
    try:
        duck = time_duckdb(sf_dir)
        duck_total = round(sum(duck.values()), 4)
    except Exception as exc:
        print(f"duckdb arm failed: {exc}", file=sys.stderr)
        duck, duck_total = {}, None

    history = load_bench_history(
        os.path.dirname(os.path.abspath(__file__)), sf_num
    )
    median_trail, flagged_raw, flagged, flag_attribution = drift_flags(
        timings, floor_sec, duck, history
    )

    result = {
        "metric": "bench_total_headline_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_num,
        "init_sec": round(init_sec, 2),
        "floor_sec": floor_sec,
        "duckdb": duck,
        "duckdb_total": duck_total,
        "median_trail": median_trail,
        "flagged": flagged,
        "flagged_raw": flagged_raw,
        "flag_attribution": flag_attribution,
    }

    # 10x growth arm (BASELINE.md §3d), regenerated per round
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    sf1_default = os.path.join(repo_dir, "bench_sf1")
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", sf1_default)
    if sf1_dir == sf1_default and not os.path.isdir(sf1_dir):
        # the fixture is git-ignored; regenerate deterministically from
        # sf0.1 on a fresh checkout (~15 s, scripts/make_sf1.py)
        try:
            sys.path.insert(0, os.path.join(repo_dir, "scripts"))
            import make_sf1

            make_sf1.main()
        except Exception as exc:  # degrade to the sf0.1-only line
            print(f"sf1 fixture generation failed: {exc}", file=sys.stderr)
    # Enter a growth arm only when its fixture is COMPLETE — a crashed
    # or interrupted generator leaves a partial dir that would otherwise
    # fail every future run here (generation is only attempted when the
    # dir is absent) and discard the sf0.1 results above. Any arm
    # failure degrades to the results gathered so far.
    if os.path.isdir(sf1_dir) and not fixture_complete(sf1_dir):
        print(f"sf1 fixture at {sf1_dir} is incomplete; skipping sf1 arm "
              "(delete it to regenerate)", file=sys.stderr)
    if fixture_complete(sf1_dir):
        try:
            result["sf1"] = growth_arm(sf1_dir, {
                "spark.sql.shuffle.partitions": "8",
                "spark.sql.files.maxPartitionBytes": "4194304",
            }, arm_key="sf1", history=history)
        except Exception as exc:
            print(f"sf1 arm failed: {exc}", file=sys.stderr)

    # 100x arm (multi-file parquet, the shuffle regime): ~60M-row
    # lineitem / 10M events. Scans are naturally many-split (64 MB
    # files), so partitions and shuffles behave like a real cluster
    # read instead of 2 row-group-bound tasks.
    sf10_default = os.path.join(repo_dir, "bench_sf10")
    sf10_dir = os.environ.get("SPARK_GRAFT_SF10_DIR", sf10_default)
    if sf10_dir == sf10_default and not os.path.isdir(sf10_dir):
        try:  # ~45 s one-time generation (scripts/make_sf10.py)
            sys.path.insert(0, os.path.join(repo_dir, "scripts"))
            import make_sf10

            make_sf10.main()
        except Exception as exc:
            print(f"sf10 fixture generation failed: {exc}", file=sys.stderr)
    if os.path.isdir(sf10_dir) and not fixture_complete(sf10_dir):
        print(f"sf10 fixture at {sf10_dir} is incomplete; skipping sf10 arm "
              "(delete it to regenerate)", file=sys.stderr)
    if fixture_complete(sf10_dir):
        try:
            result["sf10"] = growth_arm(sf10_dir, {
                "spark.sql.shuffle.partitions": "32",
                # multi-file fixture: 16 MB splits put ~70 tasks on the
                # 1.1 GB lineitem scan (~2x the 32 cores — guide §6).
                # r15 interleaved per-conf A/B vs the previous 32 MB:
                # b1 1.90->1.67, b5 0.94->0.68, b6 1.42->0.99,
                # b7 3.33->3.01, b2 3.41->3.11 s medians; no query
                # slower. The engine default stays 128 MB (cluster
                # posture); this is per-arm local sizing like the
                # shuffle-partition counts above.
                "spark.sql.files.maxPartitionBytes": "16777216",
            }, n_runs=3, arm_key="sf10", history=history)
        except Exception as exc:
            print(f"sf10 arm failed: {exc}", file=sys.stderr)

    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
