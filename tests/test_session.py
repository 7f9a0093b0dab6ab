"""``session.local_frame``: driver-held rows as a ``LocalRelation``."""

from __future__ import annotations

import datetime

from kfai_pipeline_spark.session import local_frame
from tests.fixtures import jobs_started, plan_leaf_kinds


SCHEMA = "s string, l long, i int, ad array<double>, af array<float>"


def test_local_frame_round_trip(spark):
    rows = [
        ("a", 2**40, 7, [1.0, None, -2.5], [0.5, 1.5]),
        (None, None, None, None, None),
        ("", -1, 0, [], []),
    ]
    df = local_frame(spark, rows, SCHEMA)
    assert df.schema == spark.createDataFrame([], SCHEMA).schema
    got, n_jobs = jobs_started(spark, df.collect)
    assert [tuple(r) for r in got] == rows
    assert n_jobs == 0
    assert plan_leaf_kinds(df) == ["LocalRelation"]


def test_local_frame_empty_and_struct_schema(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("id", LongType())])
    df = local_frame(spark, [], schema)
    assert df.schema == schema
    got, n_jobs = jobs_started(spark, df.collect)
    assert got == [] and n_jobs == 0
    assert plan_leaf_kinds(df) == ["LocalRelation"]


def test_local_frame_timestamps_match_list_path(spark):
    """Timestamps convert the way ``createDataFrame(<list>)`` converts
    them, so an instant survives whatever the host's time zone is."""
    rows = [(datetime.datetime(2020, 1, 1, 12, 30, 1, 5),), (None,)]
    want = spark.createDataFrame(rows, "t timestamp").collect()
    assert local_frame(spark, rows, "t timestamp").collect() == want
