"""``session.local_frame``: driver-held rows as a ``LocalRelation``;
``session.observe``: metrics from the action that runs the plan."""

from __future__ import annotations

import datetime

from kfai_pipeline_spark.session import local_frame, observe
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


def test_observe_reports_from_the_write_and_keeps_session_serializable(spark, tmp_path):
    """The metrics come from the one write that runs the plan, filters
    above the observed node do not change them, and the session still
    Java-serializes afterwards, so closures that capture it (an MLlib
    model's scoring UDF) still ship to executors."""
    from pyspark.sql import functions as F

    df, seen = observe(
        spark.range(10), F.count(F.lit(1)).alias("n"), F.sum("id").alias("total")
    )
    out = str(tmp_path / "out")
    _, n_jobs = jobs_started(spark, lambda: df.where("id > 4").write.parquet(out))
    assert seen() == {"n": 10, "total": 45}
    assert n_jobs == 1
    assert spark.read.parquet(out).count() == 5
    jvm = spark._jvm
    jvm.java.io.ObjectOutputStream(jvm.java.io.ByteArrayOutputStream()).writeObject(
        spark._jsparkSession
    )
