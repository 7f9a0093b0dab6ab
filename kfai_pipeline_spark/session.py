"""SparkSession factory.

Defaults are tuned for correctness-vs-oracle comparison (UTC session
timezone — the reference also forces UTC, see
/root/reference/src/kfai/loaders/utils/helpers/datetime.py:14-22) and
for scale (AQE on, skew-join handling, Arrow for the Pandas-UDF
boundary). On a real cluster only ``master`` and the memory knobs
change; the SQL conf here is the 100 TB posture.

Rows the driver already holds (a query block, a candidate id list,
collected context rows) become frames through :func:`local_frame`, so
using them starts no Python-worker job. Metrics a write should report
on the rows it writes come from :func:`observe`, in the same execution.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Repo root (parent of this package) — Python workers are fresh
# processes and must be able to import kfai_pipeline_spark regardless of
# the driver's cwd. Locally that's a PYTHONPATH entry; on a real cluster
# the package ships as a wheel/zip via --py-files instead.
_PKG_ROOT = str(Path(__file__).resolve().parents[1])


def _ensure_worker_pythonpath() -> None:
    current = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_PKG_ROOT}{os.pathsep}{current}" if current else _PKG_ROOT
        )


def get_spark(
    app_name: str = "kfai-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Shuffle partitions default to the local core count — on a real
    cluster this would be sized to ~2-3x total executor cores and AQE
    coalesces the rest at runtime.
    """
    _ensure_worker_pythonpath()
    cpus = int(DEFAULT_CPUS)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # -- determinism / oracle comparison --
        .config("spark.sql.session.timeZone", "UTC")
        # -- adaptive execution: runtime coalesce + skew-join splitting --
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # -- Arrow for the Python boundary (pandas UDFs, toPandas) --
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- scan sizing: 128 MB splits is the large-cluster default;
        #    low open-cost lets small local files still split across cores
        #    (no effect at real scale where files exceed it) --
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # -- broadcast threshold: Spark's stock 10 MB. Dims
        #    (region/nation/supplier/part/customer) are far below it at every
        #    SF; the DataFrame builders additionally hint broadcast() on known
        #    dims. A larger threshold (we ran 64 MB in round 1) is a mid-size
        #    trap: at 10x data the static planner's size estimate put the
        #    6M-row lineitem FACT under 64 MB and broadcast it, rebuilding a
        #    multi-million-entry hash relation per query (measured 2.4x
        #    slow-down on the 5-table join). Fact tables must never ride the
        #    auto threshold. --
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # Legacy-fixture compat: older events.parquet drops stored
        # TIMESTAMP(NANOS) (read as long, catalog converts); the current
        # micros/NTZ drop ignores this conf entirely.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: list, schema: StructType | str
) -> DataFrame:
    """A DataFrame over ``rows`` (tuples or Rows, positional to
    ``schema``) that Spark plans as a ``LocalRelation``.

    ``spark.createDataFrame(<python list>)`` is a parallelized Python
    RDD, so every action over it starts Python workers on every core
    (hundreds of ms each time for a 1-row frame). An Arrow table is
    shipped to the JVM once and scanned there: collecting the frame
    runs no job. A join on ``F.broadcast`` of it still starts one
    one-task job, the broadcast exchange's. Values convert through each
    type's ``toInternal`` first, the same conversion the list path
    applies, so timestamps keep their instant whatever the host's
    time zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = []
    for i, (field, arrow_field) in enumerate(zip(schema.fields, arrow_schema)):
        dt = field.dataType
        values = [r[i] for r in rows]
        if dt.needConversion():
            values = [None if v is None else dt.toInternal(v) for v in values]
        columns.append(pa.array(values, type=arrow_field.type))
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), schema
    )


_observers: list = []  # (JVM session, its ObservationManager)
_observers_lock = threading.Lock()


def _observation_manager(spark: SparkSession):
    """The ObservationManager this module keeps for ``spark``, made on
    first use; its constructor registers the listener that completes
    observations when their query ends."""
    jss = spark._jsparkSession
    with _observers_lock:
        for owner, manager in _observers:
            if owner.equals(jss):
                return manager
        manager = spark._jvm.org.apache.spark.sql.classic.ObservationManager(jss)
        _observers.append((jss, manager))
        return manager


def observe(df: DataFrame, *metrics: Column) -> tuple[DataFrame, Callable[[], dict]]:
    """``df`` with the named aggregate ``metrics`` attached, and a
    function that returns their values after an action over the
    returned frame, such as its write, has run: the action computes them
    in the same execution, where a ``count()`` beside it would run the
    plan again.

    This is ``pyspark.sql.Observation`` with its manager held here
    instead of in the session. Spark 4.1 keeps a session's manager in a
    field that Java serialization does not skip, so after a session's
    first ``Observation`` every closure that captures the session fails
    with "Task not serializable", among them the scoring UDF of an
    MLlib model that kept its training summary (a fitted
    ``LogisticRegression``).

    Call the function only after the action has returned: it waits for
    the query's end. Its dict is empty when adaptive execution dropped
    the observed node before it ran (one side of a join whose other
    side proved empty)."""
    from pyspark.serializers import CPickleSerializer

    spark = df.sparkSession
    jvm = spark._jvm
    jo = jvm.org.apache.spark.sql.Observation()
    # registered under (name, id of the observed frame), as
    # Dataset.observe(Observation, ...) registers with the session's
    _observation_manager(spark).register(jo, df._jdf)
    observed = df.observe(jo.name(), *metrics)

    def seen() -> dict:
        row = jo.getRow()
        if row.length() == 0:
            return {}
        utils = getattr(jvm, "org.apache.spark.sql.api.python.PythonSQLUtils")
        return CPickleSerializer().loads(utils.toPyRow(row)).asDict(recursive=False)

    return observed, seen
