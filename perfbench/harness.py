"""Measurement plumbing shared by the workloads: clocks, spans, Spark job
counts, statistics, memory and the host fingerprint.

Nothing here imports pyspark at module level, so the tests can import it
without a JVM.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import platform
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------- statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return float(statistics.geometric_mean(values))


def tail(values: list[float], min_beyond: int = 10) -> dict:
    """The highest percentile with at least ``min_beyond`` samples above it,
    with the sample count. ``None`` when the run is too short to have one."""
    n = len(values)
    out: dict = {"n": n, "percentile": None, "value": None}
    for p in (99.9, 99, 95, 90, 75, 50):
        beyond = n - int(n * p / 100.0)
        if beyond >= min_beyond and n >= 2:
            out["percentile"] = p
            out["value"] = float(
                statistics.quantiles(values, n=1000, method="inclusive")[int(p * 10) - 1]
            )
            break
    return out


# ---------------------------------------------------------------- clocks


def _cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over the machine's CPUs."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


class Clock:
    """Wall time, and wall time net of hypervisor steal.

    On a virtual machine whose host overcommits its cores, the hypervisor
    withholds ("steals") a share of the time the guest's CPUs are ready to
    run, and that share moves with the load of other guests. A stretch of
    work whose CPUs were busy for ``b`` ticks and stolen for ``s`` ticks
    would have taken ``wall * b / (b + s)`` with its CPUs fully delivered;
    that is the ``net`` time. On a machine without steal the two are equal.
    """

    def __init__(self):
        self.t = time.perf_counter()
        self.busy, self.steal = _cpu_ticks()

    def elapsed(self) -> tuple[float, float]:
        """(wall, net) seconds since the clock was made."""
        wall = time.perf_counter() - self.t
        busy, steal = _cpu_ticks()
        busy, steal = busy - self.busy, steal - self.steal
        return wall, (wall * busy / (busy + steal) if busy + steal > 0 else wall)

    def net(self) -> float:
        return self.elapsed()[1]


# ---------------------------------------------------------------- tracing


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans around calls into the program's layers.

    With ``enabled=False`` every method is a cheap no-op, so the untraced
    run pays for no span bookkeeping and no Spark status queries. Spans
    carry the run id and are written out once, at the end of the run.
    ``overhead_s`` accumulates the time the tracer itself spends labelling
    jobs and reading Spark's status, which is the cost of tracing.
    """

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = None
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Time ``name``; with ``jobs=True`` also label the Spark jobs it
        starts with a job group and count their jobs, stages and tasks."""
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sp = Span(
            name=name,
            start=0.0,
            parent=self._stack[-1] if self._stack else None,
            id=next(self._ids),
        )
        group = f"{self.run_id}:{sp.id}"
        label = jobs and self.sc is not None
        if label:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            prev_desc = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobGroup(group, name, interruptOnCancel=False)
        self._stack.append(sp.id)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t_in
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if label:
                sp.attrs.update(spark_counts(self.sc, group))
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
                self.sc.setLocalProperty("spark.job.description", prev_desc)
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - sp.end

    def timed(self, fn, *args):
        """Call a tracing-only read and count its time as overhead."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child_time: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] = child_time.get(sp.parent, 0.0) + (sp.end - sp.start)
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - child_time.get(sp.id, 0.0)
        return out

    def records(self) -> list[dict]:
        return [
            {
                "run": self.run_id,
                "id": sp.id,
                "parent": sp.parent,
                "name": sp.name,
                "start": sp.start,
                "end": sp.end,
                **sp.attrs,
            }
            for sp in sorted(self.spans, key=lambda s: s.start)
        ]


def spark_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stages += 1
            si = st.getStageInfo(s)
            tasks += si.numTasks if si is not None else 0
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def planning_seconds(df) -> float | None:
    """Spark's parse/analyze/optimize/plan time for one executed Dataset,
    from ``QueryExecution.tracker``; None where Py4J cannot read it."""
    try:
        it = df._jdf.queryExecution().tracker().phases().iterator()
        total = 0
        while it.hasNext():
            total += it.next()._2().durationMs()
        return total / 1000.0
    except Exception:  # noqa: BLE001 - best-effort read of a JVM internal
        return None


# ---------------------------------------------------------------- cpu and memory


def _children(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def cpu_seconds(jvm_pid: int | None) -> float:
    """CPU time used so far by this process, its JVM and the JVM's Python
    workers, ended children included."""
    total = time.process_time()
    if not jvm_pid:
        return total
    tick = os.sysconf("SC_CLK_TCK")
    for pid in _children(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / tick  # utime stime cutime cstime
    return total


def _status_mb(pid: int, key: str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(pid: int) -> float:
    """Peak resident set of a process, in MiB."""
    return _status_mb(pid, "VmHWM:")


def rss_mb(pid: int) -> float:
    """Current resident set of a process, in MiB."""
    return _status_mb(pid, "VmRSS:")


def reset_peak_rss() -> bool:
    """Start this process's peak resident set again from its current one
    (Linux ``clear_refs``), so a later ``peak_rss_mb`` covers only what
    follows. False where the kernel does not allow it."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


# ---------------------------------------------------------------- fingerprint


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024 / 1024, 1)
    return 0.0


def source_hash(root: str) -> str:
    """Content hash of the program's sources, which identifies the code
    measured even where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "kfai_pipeline_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return (out.stdout.strip() or None) if out.returncode == 0 else None


# Keys that must be equal for two records to be comparable; the code
# identity (commit, source hash) is what a comparison is meant to vary.
HOST_KEYS = ("nproc", "mem_gb", "spark", "duckdb", "python", "spark_graft_cpus", "machine")


def fingerprint(root: str) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_gb": _mem_total_gb(),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "machine": platform.machine(),
        "git_commit": git_commit(root),
        "source_hash": source_hash(root),
    }


def comparable(a: dict, b: dict) -> list[str]:
    """The host keys on which two fingerprints differ (empty = comparable)."""
    return [k for k in HOST_KEYS if a.get(k) != b.get(k)]
