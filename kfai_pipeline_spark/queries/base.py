"""Query registry plumbing."""

from __future__ import annotations

import string
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from kfai_pipeline_spark.catalog import load_table

Builder = Callable[[SparkSession, str], DataFrame]

# Built-plan memo (the DataFrame analogue of a prepared-statement /
# plan cache). Constructing a plan through the DataFrame API costs
# hundreds of Py4J round-trips (~0.3-0.5 s for a wide agg) while
# executing the same 5-row-result plan takes ~0.1 s; since DataFrames
# are immutable, re-serving the built object is semantically identical
# to rebuilding it. Keyed by applicationId so a restarted session never
# sees plans from a dead JVM.
_PLAN_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def bind_sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Run Spark-SQL ``text`` with each ``{table}`` placeholder bound to
    that fixture table under ``sf_dir``.

    Only the tables the text names are loaded. PySpark's formatter
    registers each bound frame under a private view name for the one
    ``spark.sql`` call and drops it on return, so no session-global view
    is left behind and the text never reads whatever another caller
    registered as ``lineitem``.
    """
    names = {field for _, field, _, _ in string.Formatter().parse(text) if field}
    return spark.sql(text, **{t: load_table(spark, sf_dir, t) for t in names})


@dataclass(frozen=True)
class Query:
    """A declared correctness query.

    ``oracle`` is ANSI/DuckDB SQL over the pre-registered fixture views;
    ``None`` marks a non-SQL-expressible operator (driver then records a
    weaker rows-only check).
    """

    name: str
    build: Builder
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: Builder) -> Builder:
        def memoized(spark: SparkSession, sf_dir: str) -> DataFrame:
            key = (spark.sparkContext.applicationId, sf_dir, name)
            df = _PLAN_MEMO.get(key)
            if df is None:
                df = _PLAN_MEMO[key] = fn(spark, sf_dir)
            return df

        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(
            name=name, build=memoized, oracle=oracle, doc=doc or (fn.__doc__ or "")
        )
        return fn

    return deco
