"""The ``analytics`` workload: registry queries on a generated fixture.

One closed-loop client builds one query plan at a time and collects its
full result. A pass runs B1-B9, the queries ``bench.py`` times, in an order
the seed shuffles, on a fixture of scale 0.1 (600,000 lineitem rows),
where every join broadcasts and scans, joins, aggregates and windows do
real work. The fixture is the same for every seed (``inputs.write_tables``
with ``FIXTURE_SEED``): with the data drawn from the run's seed, a pass
spread by 10% across seeds, with one fixture by 3%. A child process writes
the fixture and the DuckDB oracle results, so the driver's memory holds
neither. Set-up runs two passes as a warm-up before the timed one: a pass
kept getting faster for three passes (the JIT compiling in the
background), and after one warm-up pass the timed passes spread by 16%
across ten seeds, after two by 4% across five.

Every repetition builds a fresh plan. ``queries/base.py``'s ``_PLAN_MEMO``
is emptied before each build, because a memoized Dataset re-collected
reuses its shuffle outputs and would measure a cache, not the engine. The
Spark-SQL twins in ``queries/spark_sql.py`` are not used: they are a
second definition of the same queries that is due to be deleted.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np

from perfbench import inputs
from perfbench.harness import Clock, planning_seconds

QUERIES = ("q07", "q22", "q05", "q10", "q18", "q28", "q25", "q26", "q04")
SCALE = 0.1
WARMUP_PASSES = 2
FIXTURE_SEED = 0
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def canonical(rows, columns) -> list[str]:
    """Order-insensitive canonical rows, as the repo's oracle tests form them."""
    import pandas as pd

    from tests.oracle_utils import canonical_rows

    def plain(v):
        if isinstance(v, np.ndarray):
            return [plain(x) for x in v.tolist()]
        if isinstance(v, (list, tuple)):
            return [plain(x) for x in v]
        return v

    data = [tuple(plain(v) for v in r) for r in rows]
    frame = pd.DataFrame.from_records(data, columns=list(columns))
    return [",".join(sorted(columns))] + canonical_rows(frame)


def _same_row(a: str, b: str) -> bool:
    """Two canonical rows are equal, or differ only in floats one unit
    apart in the second decimal: the oracles round in DuckDB's double
    arithmetic, and a value half-way between two cents (one seed in ten
    made one in q07) can round the other way than in Spark's decimals."""
    ca, cb = a.split("|"), b.split("|")
    if len(ca) != len(cb):
        return False
    for x, y in zip(ca, cb):
        if x == y:
            continue
        try:
            if abs(float(x) - float(y)) > 0.010001:
                return False
        except ValueError:
            return False
    return True


class AnalyticsWorkload:
    name = "analytics"

    def __init__(self, seed: int, scale: float = SCALE):
        self.scale = scale
        self.order = [str(q) for q in np.random.default_rng([seed, 3]).permutation(QUERIES)]

    def setup(self, run) -> None:
        """Write the fixture and its oracle results, register the fixture's
        views and warm up with checked passes."""
        from kfai_pipeline_spark import catalog
        from kfai_pipeline_spark.queries import REGISTRY, base

        self.dir = os.path.join(run.workdir, "fixture")
        subprocess.run(
            [sys.executable, "-m", "perfbench.workload_analytics", self.dir, str(FIXTURE_SEED), str(self.scale)],
            cwd=ROOT, check=True, timeout=150,
        )
        with open(os.path.join(self.dir, ORACLES)) as f:
            self.oracle_rows = json.load(f)
        clock = Clock()
        with run.tracer.span("catalog.register_views"):
            catalog.register_views(run.spark, self.dir)
        run.sample("catalog.register_views_s", clock.net(), "s")
        # a driver session runs many queries: the JIT, Spark's generated
        # code and the file-listing caches are warm before timing starts
        for _ in range(WARMUP_PASSES):
            for name in self.order:
                base._PLAN_MEMO.clear()
                df = REGISTRY[name].build(run.spark, self.dir)
                self._check(run, name, df.columns, df.collect())

    def run_pass(self, run, workdir: str) -> None:
        tr = run.tracer
        total = planning = 0.0
        with tr.span("queries.relational"):
            for name in self.order:
                seconds, plan_s = self._query(run, name)
                total += seconds
                planning += plan_s or 0.0
        run.sample("analytics.relational_s", total, "s")
        if tr.enabled:
            run.sample("queries.relational.planning_s", planning, "s")

    def _query(self, run, name: str) -> tuple[float, float | None]:
        """Build a fresh plan, collect its full result and check it; the
        net seconds taken and, traced, Spark's planning time."""
        from kfai_pipeline_spark.queries import REGISTRY, base

        tr = run.tracer
        base._PLAN_MEMO.clear()  # fresh plan: never serve a memoized Dataset
        with tr.span(f"queries.{name}", jobs=True) as sp:
            clock = Clock()
            df = REGISTRY[name].build(run.spark, self.dir)
            built = clock.net()
            rows = df.collect()
            elapsed = clock.elapsed()
        ok = self._check(run, name, df.columns, rows)
        run.op(f"queries.{name}", elapsed, ok)
        run.sample(f"queries.{name}.build_s", built, "s")
        run.sample(f"queries.{name}.exec_s", elapsed[1] - built, "s")
        run.record.setdefault("rows", {})[name] = len(rows)
        if sp is None:
            return elapsed[1], None
        run.sample(f"queries.{name}.jobs", sp.attrs["jobs"], "count")
        return elapsed[1], tr.timed(planning_seconds, df)

    def _check(self, run, name: str, columns, rows) -> bool:
        got, want = canonical(rows, columns), self.oracle_rows[name]
        same = len(got) == len(want) and all(map(_same_row, got, want))
        return run.check(same, f"{name}: {len(got)} rows differ from the oracle's {len(want)}")


# ---------------------------------------------------------------- fixture


ORACLES = "oracles.json"


def write_fixture(dst: str, seed: int, scale: float) -> None:
    """Write the tables into ``dst`` and, as ``dst/oracles.json``, the
    canonical rows of every query's DuckDB oracle over them."""
    import duckdb

    from kfai_pipeline_spark.queries import REGISTRY

    inputs.write_tables(dst, seed, scale)
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in inputs.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(dst, t)}.parquet'")
        oracles = {}
        for name in QUERIES:
            rel = con.sql(REGISTRY[name].oracle)
            oracles[name] = canonical(rel.fetchall(), rel.columns)
    finally:
        con.close()
    with open(os.path.join(dst, ORACLES), "w") as f:
        json.dump(oracles, f)


if __name__ == "__main__":
    # python3 -m perfbench.workload_analytics <dst> <seed> <scale>
    write_fixture(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
