"""Mongo-style filter-dict -> pyspark Column compiler (SURVEY.md §4.3.1).

Re-expresses the reference's pgvector filter IR
(/root/reference/src/kfai/loaders/utils/filtering.py:18-123 builds it;
langchain-postgres translates it to JSONB SQL) as a pure function that
emits a ``Column`` predicate tree. Catalyst then optimizes/pushes it
down like any other expression — no custom rule needed.

Supported operators (reference surface + obvious completions):
``$and $or $not $in $nin $like $ilike $eq $ne $gt $gte $lt $lte
$between $exists``. Field conditions may be flat (``{"f": v}`` ->
equality) or op-maps (``{"f": {"$gte": 3}}``). Multiple ops inside one
op-map AND together, matching langchain-postgres semantics.

``build_filter`` mirrors the reference's query->filter assembly
(year terms + shows $in + hosts $like with LIKE-escaping).
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from kfai_pipeline_spark.functions.datetime_fns import year_term_epoch_range


class FilterCompileError(ValueError):
    pass


def _field_op(field: str, op: str, value: Any) -> Column:
    c = F.col(field)
    if op == "$eq":
        return c == F.lit(value)
    if op == "$ne":
        return c != F.lit(value)
    if op == "$gt":
        return c > F.lit(value)
    if op == "$gte":
        return c >= F.lit(value)
    if op == "$lt":
        return c < F.lit(value)
    if op == "$lte":
        return c <= F.lit(value)
    if op == "$in":
        if not isinstance(value, (list, tuple)):
            raise FilterCompileError(f"$in wants a list, got {type(value).__name__}")
        return c.isin(*value)
    if op == "$nin":
        if not isinstance(value, (list, tuple)):
            raise FilterCompileError(f"$nin wants a list, got {type(value).__name__}")
        return ~c.isin(*value)
    if op == "$like":
        return c.like(value)
    if op == "$ilike":
        return c.ilike(value)
    if op == "$between":
        lo, hi = value
        return c.between(F.lit(lo), F.lit(hi))
    if op == "$exists":
        return c.isNotNull() if value else c.isNull()
    raise FilterCompileError(f"unsupported operator {op!r} on field {field!r}")


def compile_filter(filter_dict: dict[str, Any] | None) -> Column:
    """Compile a Mongo-style filter dict into one boolean Column.

    ``None``/empty compiles to ``lit(True)`` (no-op predicate), matching
    the reference's "no filter parsed" path (filtering.py:120-123).
    """
    if not filter_dict:
        return F.lit(True)
    conds: list[Column] = []
    for key, value in filter_dict.items():
        if key == "$and":
            conds.append(reduce(lambda a, b: a & b, (compile_filter(v) for v in value)))
        elif key == "$or":
            conds.append(reduce(lambda a, b: a | b, (compile_filter(v) for v in value)))
        elif key == "$not":
            conds.append(~compile_filter(value))
        elif key.startswith("$"):
            raise FilterCompileError(f"unsupported logical operator {key!r}")
        elif isinstance(value, dict):
            # op-map: {"field": {"$gte": 1, "$lte": 2}} — ops AND together
            conds.append(
                reduce(
                    lambda a, b: a & b,
                    (_field_op(key, op, v) for op, v in value.items()),
                )
            )
        else:
            conds.append(F.col(key) == F.lit(value))  # flat equality
    return reduce(lambda a, b: a & b, conds)


def _contains_pattern(s: str) -> str:
    """The LIKE pattern matching values that contain ``s`` literally:
    ``%`` and ``_`` backslash-escaped, wrapped in ``%...%`` (ref
    filtering.py:112-115)."""
    escaped = re.sub(r"([%_])", r"\\\1", s)
    return f"%{escaped}%"


def build_filter(
    shows: list[str] | None = None,
    hosts: list[str] | None = None,
    exact_year: int | None = None,
    year_range: str | None = None,
    before_year: int | None = None,
    after_year: int | None = None,
    current_year: int = 2026,
) -> dict[str, Any] | None:
    """Parsed-query terms -> Mongo-style filter dict (ref
    filtering.py:18-123). Returns ``None`` when nothing filters, exactly
    like the reference. Hosts get LIKE-escaped (%/_ -> backslash) and
    wrapped in %...% (ref filtering.py:112-115). Year terms become epoch
    $gte/$lte bounds on ``published_at`` (F15 semantics incl. the
    2012-01-01 floor and current-year ceiling)."""
    conditions: list[dict[str, Any]] = []
    bounds = year_term_epoch_range(
        exact_year=exact_year,
        year_range=year_range,
        before_year=before_year,
        after_year=after_year,
        current_year=current_year,
    )
    if bounds is not None:
        gte, lte = bounds
        conditions.append({"published_at": {"$gte": gte}})
        conditions.append({"published_at": {"$lte": lte}})
    if shows:
        conditions.append({"show_name": {"$in": list(shows)}})
    for host in hosts or []:
        conditions.append({"hosts": {"$like": _contains_pattern(host)}})
    if conditions:
        return {"$and": conditions}
    return None
