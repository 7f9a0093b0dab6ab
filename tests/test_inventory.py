"""Registry <-> inventory drift detector (round-7 contract item).

SURVEY.md §2 is the coverage contract this engine is graded against;
COVERAGE.md is the per-round record. Round 6 shipped an operator (X43 /
q112) whose registry row never entered SURVEY — the inventory silently
under-reported the surface. This test makes that class of drift red:
every query name in the live registry must be mentioned (by its qNN id)
in BOTH SURVEY.md and COVERAGE.md, and the snapshot-rotation buckets
must stay consistent with the registry (the rotation module already
raises on unknown/duplicate names — exercised here so the failure is a
test failure, not a driver crash)."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _mentioned_ids(text: str) -> set[int]:
    """All qNN / QNN numeric ids mentioned in a doc (zero-padded or not)."""
    return {int(m) for m in re.findall(r"\bq0*(\d+)\b", text, flags=re.IGNORECASE)}


def _registry_ids() -> dict[int, str]:
    from kfai_pipeline_spark.queries import REGISTRY

    out: dict[int, str] = {}
    for name in REGISTRY:
        m = re.match(r"q0*(\d+)", name)
        assert m, f"registry name {name!r} does not start with qNN"
        out.setdefault(int(m.group(1)), name)
    return out


def test_every_registry_query_is_inventoried_in_survey_and_coverage():
    survey = _mentioned_ids((REPO / "SURVEY.md").read_text(encoding="utf-8"))
    coverage = _mentioned_ids((REPO / "COVERAGE.md").read_text(encoding="utf-8"))
    registry = _registry_ids()
    missing_survey = {registry[i] for i in registry if i not in survey}
    missing_coverage = {registry[i] for i in registry if i not in coverage}
    assert not missing_survey, (
        "registry queries missing from SURVEY.md's inventory (add a §2 row): "
        f"{sorted(missing_survey)}"
    )
    assert not missing_coverage, (
        "registry queries missing from COVERAGE.md (record the round's row): "
        f"{sorted(missing_coverage)}"
    )


def test_snapshot_rotation_consistent_with_registry():
    """The driver window order comes from _SNAPSHOT_HISTORY; a renamed
    or dropped query must fail HERE (validate raises), and every
    registry name must either be in a staleness bucket or be
    new-and-unsnapshotted (ordering first)."""
    from kfai_pipeline_spark.queries import (
        REGISTRY,
        _SNAPSHOT_HISTORY,
        _validate_history,
        spark_queries,
    )

    _validate_history(REGISTRY)  # raises on unknown/duplicated names
    rotated = list(spark_queries())
    assert set(rotated) == set(REGISTRY), "rotation must be a permutation"
    snapshotted = frozenset().union(*_SNAPSHOT_HISTORY)
    # restructured-since-snapshot names jump the queue (r14 verdict 1b:
    # a rewritten query must regain an official oracle row next round)
    from kfai_pipeline_spark.queries import _RESTRUCTURED_SINCE_SNAPSHOT

    n_prio = len(_RESTRUCTURED_SINCE_SNAPSHOT)
    assert tuple(rotated[:n_prio]) == _RESTRUCTURED_SINCE_SNAPSHOT
    n_new = len(REGISTRY.keys() - snapshotted)
    # never-snapshotted queries occupy the front after the priority set
    assert all(
        name not in snapshotted for name in rotated[n_prio:n_prio + n_new]
    )


def test_script_imports_resolve():
    """Every ``kfai_pipeline_spark`` name that the scripts, bench.py and
    perfbench import still exists, so deleting program code cannot leave
    a script that fails only when someone next runs it. Imports the
    modules (no Spark session); every ``from ... import`` node is
    checked, also the ones inside functions."""
    import ast
    import importlib

    files = [REPO / "bench.py", *sorted((REPO / "scripts").glob("*.py")),
             *sorted((REPO / "perfbench").glob("*.py"))]
    broken = []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module.split(".")[0] == "kfai_pipeline_spark"
            ):
                continue
            try:
                module = importlib.import_module(node.module)
            except ImportError as exc:
                broken.append(f"{path.name}:{node.lineno} {exc}")
                continue
            for alias in node.names:
                if alias.name == "*" or hasattr(module, alias.name):
                    continue
                try:  # a submodule its package has not imported yet
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ImportError:
                    broken.append(f"{path.name}:{node.lineno} {node.module}.{alias.name}")
    assert len(files) > 10, files
    assert not broken, broken
