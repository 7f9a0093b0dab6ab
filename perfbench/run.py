"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload app --seed 1 --seconds 1 --trace 0

From the root of a checkout. The run sets up once (JVM and session start,
inputs, views, warm-up) and times it, then measures whole passes of the
workload in the same session until ``--seconds`` have been spent (at least
one pass). Times are net of hypervisor steal (``harness.Clock``); the
record keeps the wall times too. It checks every output, writes a record
with the host fingerprint to ``perfbench/results/``, prints a named summary
line and ends with one JSON line::

    {"correct": true, "attempted": 26, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
measured with spans and Spark job groups around every call. Everything the
run writes, Spark's scratch space included, lives in a work directory
under ``perfbench/`` that the run removes.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Run:
    """State of one benchmark run: the session, the tracer, the operations
    attempted and failed, and the samples each metric collected."""

    def __init__(self, workload: str, seed: int, trace: bool, workdir: str):
        from perfbench.harness import Tracer

        self.workdir = workdir
        self.spark = None
        run_id = f"{workload}-{seed}-{os.getpid()}"
        self.tracer = Tracer(trace, run_id)
        self.record: dict = {"workload": workload, "seed": seed, "trace": trace, "run_id": run_id}
        self.samples: dict[str, list[float]] = {}
        self.units: dict[str, str] = {}
        self.op_samples: dict[str, list[float]] = {}
        self.pass_ops: list[tuple[float, float]] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def sample(self, name: str, value: float, unit: str) -> None:
        self.samples.setdefault(name, []).append(float(value))
        self.units[name] = unit

    def op(self, kind: str, elapsed: tuple[float, float], ok: bool) -> None:
        """One user-visible operation of a kind, with its (wall, net)
        seconds: a stage call, a question of an arm, the batch or a query."""
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.op_samples.setdefault(kind, []).append(elapsed[1])
        self.pass_ops.append(elapsed)

    def check(self, ok: bool, message: str) -> bool:
        if not ok:
            self.problems.append(message)
            print(f"perfbench: check failed: {message}", file=sys.stderr)
        return bool(ok)

    def start_session(self) -> None:
        """Start the JVM and the Spark session with the engine's own defaults."""
        from perfbench.harness import Clock

        from kfai_pipeline_spark.session import get_spark

        clock = Clock()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
            )
        self.sample("session.get_spark_s", clock.net(), "s")
        self.tracer.sc = self.spark.sparkContext

    def floor(self, n: int = 5) -> None:
        """Spark's fixed cost per statement: the median of ``SELECT 1``."""
        from perfbench.harness import Clock, median

        times = []
        for _ in range(n):
            clock = Clock()
            self.spark.sql("SELECT 1").collect()
            times.append(clock.net())
        self.sample("spark.floor_s", median(times), "s")


WORKLOADS = ("app", "analytics")


def make_workload(name: str, seed: int, tiny: bool):
    if name == "app":
        from perfbench.workload_app import AppWorkload

        if tiny:
            return AppWorkload(seed, n_videos=4, batch_queries=2, batch_k=3)
        return AppWorkload(seed)
    if name == "analytics":
        from perfbench.workload_analytics import AnalyticsWorkload

        return AnalyticsWorkload(seed, 0.002) if tiny else AnalyticsWorkload(seed)
    raise SystemExit(f"perfbench: unknown workload {name!r}; known: {', '.join(WORKLOADS)}")


def measure(run: Run, workload, seconds: float) -> dict:
    from perfbench.harness import (
        Clock, cpu_seconds, fingerprint, geomean, median, peak_rss_mb, reset_peak_rss, rss_mb,
    )

    # -- set-up, once, in the session the passes use: the JVM's start, the
    # inputs, the views and the workload's warm-up
    rss = {"start": rss_mb(os.getpid())}
    clock = Clock()
    run.start_session()
    workload.setup(run)
    run.floor()
    setup = clock.elapsed()
    run.record["setup_s"] = setup
    # the driver's peak covers the passes only, not what set-up left behind
    rss["setup"] = rss_mb(os.getpid())
    rss["reset"] = reset_peak_rss()

    # -- whole passes until the window is spent; a pass's time is the sum
    # of its operations' times, so output checks between them do not count
    passes, walls, cpu = [], [], []
    jvm = run.spark.sparkContext._gateway.proc.pid
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
        pass_dir = os.path.join(run.workdir, f"pass{len(passes)}")
        run.pass_ops = []
        c0 = cpu_seconds(jvm)
        with run.tracer.span(f"{workload.name}.pass"):
            workload.run_pass(run, pass_dir)
        cpu.append(cpu_seconds(jvm) - c0)
        walls.append(sum(wall for wall, _ in run.pass_ops))
        passes.append(sum(net for _, net in run.pass_ops))
    run.record.update(pass_s=passes, pass_wall_s=walls, pass_cpu_s=cpu)
    run.record["op_s"] = run.op_samples
    if hasattr(workload, "finish"):
        workload.finish(run)

    if run.tracer.enabled:
        if hasattr(workload, "trace_operators"):
            workload.trace_operators(run, pass_dir)
        run.sample("trace.overhead_s", run.tracer.overhead_s / len(passes), "s")
        run.record["self_time_s"] = run.tracer.self_times()
        run.record["spans"] = run.tracer.records()

    # the JVM's resident set follows its collector's heap sizing more than
    # the program's data, so it is a layer metric; the driver's is steady
    run.sample("jvm.peak_rss_mb", peak_rss_mb(jvm), "MB")
    rss["pass_peak"] = peak_rss_mb(os.getpid())
    run.record["driver_rss_mb"] = rss
    run.record["fingerprint"] = fingerprint(ROOT)
    return {
        "setup_s": (setup[1], "s"),
        "driver_rss_mb": (rss["pass_peak"], "MB"),
        "pass_s": (median(passes), "s"),
        "op_gmean_s": (geomean([median(v) for v in run.op_samples.values()]), "s"),
    }


def stop_spark(run: Run) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if run.spark is not None:
        run.spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - make sure the JVM is gone
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smallest inputs, for the smoke tests")
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "kfai_pipeline_spark")):
        print(f"perfbench: no kfai_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)

    # Spark sizes itself from SPARK_GRAFT_CPUS; the benchmark runs on all cores
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=".work-", dir=HERE)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(workdir, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={workdir}/tmp -XX:-UsePerfData"
    ).strip()
    cwd = os.getcwd()
    os.chdir(workdir)  # spark-warehouse/, metastore_db/ and derby.log land here

    run = Run(args.workload, args.seed, bool(args.trace), workdir)
    try:
        workload = make_workload(args.workload, args.seed, args.tiny)
        e2e = measure(run, workload, args.seconds)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            stop_spark(run)
        finally:
            os.chdir(cwd)
            shutil.rmtree(workdir, ignore_errors=True)

    from perfbench.harness import median

    layers = {k: (median(v), run.units[k]) for k, v in run.samples.items()}
    run.record.update(
        attempted=run.attempted,
        failed=run.failed,
        problems=run.problems,
        end_to_end={k: v for k, (v, _) in e2e.items()},
        layers={k: v for k, (v, _) in layers.items()},
    )
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    out = os.path.join(HERE, "results", f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json")
    with open(out, "w") as f:
        json.dump(run.record, f, indent=1, default=str)

    if args.trace:
        # every per-layer metric; a layer this workload does not touch reads 0
        metrics = {
            m["name"]: {"value": layers.get(m["name"], (0.0,))[0], "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in spec["end_to_end"]}
    named = {k: round(v, 4) for k, (v, u) in layers.items() if k.split(".")[0] in ("ingest", "qa", "analytics")}
    wall = round(time.perf_counter() - T_START, 1)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "wall_s": wall, "named": named, "record": out}))
    correct = run.failed == 0 and not run.problems
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
