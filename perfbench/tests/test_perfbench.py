"""Tests for the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark four times at the smallest input sizes and take
a few minutes; everything else runs without a JVM.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import compare, harness, inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def run_bench(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


# ---------------------------------------------------------------- the spec


def test_spec_follows_the_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in SPEC["workloads"]} == {"app", "analytics"}
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in SPEC["workloads"])
    assert {m["name"] for m in SPEC["end_to_end"]} >= {"setup_s", "pass_s"}
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in SPEC[key]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert len(SPEC["per_layer"]) <= 128
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


# ---------------------------------------------------------------- seeds


def test_seed_changes_inputs(tmp_path):
    assert inputs.video_catalog(8, 1) != inputs.video_catalog(8, 2)
    assert inputs.video_catalog(8, 1) == inputs.video_catalog(8, 1)
    recs = inputs.video_catalog(12, 1)
    assert inputs.questions(1, recs) != inputs.questions(2, recs)
    assert inputs.questions(1, recs) == inputs.questions(1, recs)
    # every seed asks every kind of filter, each with one filter key
    for s in (1, 2, 3):
        qs = inputs.questions(s, recs)
        assert list(qs) == list(inputs.FILTERS)
        assert [sorted(f) for _, f in qs.values()] == [[], ["shows"], ["exact_year"], ["topics"]]

    def table_bytes(seed, sub):
        d = tmp_path / sub
        inputs.write_tables(str(d), seed, scale=0.001)
        return {t: (d / f"{t}.parquet").read_bytes() for t in inputs.TABLES}

    a, b, a2 = table_bytes(1, "a"), table_bytes(2, "b"), table_bytes(1, "a2")
    assert a == a2
    assert all(a[t] != b[t] for t in ("customer", "lineitem", "events", "documents", "embeddings"))


def test_seed_shuffles_the_query_order():
    from perfbench.workload_analytics import QUERIES, AnalyticsWorkload

    orders = [AnalyticsWorkload(s).order for s in (1, 2, 1)]
    assert orders[0] == orders[2] != orders[1]
    assert sorted(orders[1]) == sorted(QUERIES)


# ---------------------------------------------------------------- harness


def test_tail_needs_ten_samples_beyond():
    assert harness.tail([1.0] * 9)["percentile"] is None
    t = harness.tail([float(i) for i in range(100)])
    assert t["percentile"] == 90 and t["n"] == 100


def test_self_time_subtracts_children():
    tr = harness.Tracer(True, "t")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    st = tr.self_times()
    outer = next(s for s in tr.spans if s.name == "outer")
    inner = next(s for s in tr.spans if s.name == "inner")
    assert st["outer"] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))
    assert [r["parent"] for r in tr.records()] == [None, outer.id]


def test_net_time_is_at_most_wall_time():
    clock = harness.Clock()
    sum(range(200_000))
    wall, net = clock.elapsed()
    assert 0 < net <= wall


def test_oracle_rows_allow_one_cent_rounding_ties():
    from perfbench.workload_analytics import _same_row

    assert _same_row("A|2695865751.08|3", "A|2695865751.07|3")
    assert not _same_row("A|2695865751.09|3", "A|2695865751.07|3")
    assert not _same_row("A|1.0|3", "B|1.0|3")


def test_untraced_tracer_records_nothing():
    tr = harness.Tracer(False, "t")
    with tr.span("x", jobs=True) as sp:
        assert sp is None
    assert tr.spans == [] and tr.overhead_s == 0.0


def test_compare_refuses_other_hosts():
    fp = harness.fingerprint(ROOT)
    rec = {"workload": "app", "trace": False, "fingerprint": fp,
           "end_to_end": {"pass_s": 2.0}, "layers": {}}
    traced = dict(rec, trace=True, end_to_end={"pass_s": 2.5})
    lines = compare.compare(rec, traced)
    assert any("tracing overhead" in ln and "0.5000" in ln for ln in lines)
    other = dict(rec, fingerprint=dict(fp, nproc=(fp["nproc"] or 0) + 28))
    with pytest.raises(ValueError, match="nproc"):
        compare.compare(rec, other)


def test_fails_without_the_program(tmp_path):
    """A directory with only the benchmark must fail fast, printing no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("results", ".work-*", "__pycache__"))
    p = run_bench("--workload", "app", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# ---------------------------------------------------------------- smoke runs


@pytest.fixture(scope="module", params=["app", "analytics"])
def smoke(request):
    """A tiny untraced and a tiny traced run of one seed: their results and
    their records."""
    out, records = {}, {}
    for trace in ("0", "1"):
        p = run_bench("--workload", request.param, "--seed", "3", "--seconds", "1",
                      "--trace", trace, "--tiny")
        assert p.returncode == 0, p.stderr[-3000:]
        lines = p.stdout.strip().splitlines()
        out[trace] = json.loads(lines[-1])
        with open(json.loads(lines[-2])["record"]) as f:
            records[trace] = json.load(f)
    return request.param, out, records


def test_smoke_is_correct(smoke):
    _, out, _ = smoke
    for res in out.values():
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1


def test_record_schema_names_every_metric_with_its_unit(smoke):
    """Untraced runs print every end-to-end metric and traced runs every
    per-layer metric, by name and unit; the names come from the spec, not
    from the seed."""
    _, out, _ = smoke
    for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
        metrics = out[trace]["metrics"]
        assert {m["name"]: m["unit"] for m in SPEC[key]} == {k: v["unit"] for k, v in metrics.items()}
        assert all(isinstance(v["value"], (int, float)) for v in metrics.values())
    assert all(v["value"] > 0 for v in out["0"]["metrics"].values())


def test_a_seed_cites_the_same_rows_in_every_run(smoke):
    workload, _, records = smoke
    if workload != "app":
        pytest.skip("only questions cite rows")
    assert records["0"]["cited"] == records["1"]["cited"]
    assert len(records["0"]["cited"]) == 4


def test_traced_run_measures_its_layers(smoke):
    workload, out, _ = smoke
    layers = {k: v["value"] for k, v in out["1"]["metrics"].items()}
    own = {
        "app": ("app.extract.first.s", "plans.rag.ann.retrieve_s", "qa.batch_s",
                "operators.embed.s", "app.load.first.jobs"),
        "analytics": ("catalog.register_views_s", "queries.q22.exec_s", "queries.q22.jobs",
                      "analytics.relational_s", "queries.q25.build_s"),
    }[workload]
    for name in own + ("session.get_spark_s", "spark.floor_s", "trace.overhead_s"):
        assert layers[name] > 0, name
