"""Parquet catalog loader for the driver fixtures.

One parquet file per table (TESTDATA.md). ``load_tables`` returns lazy
DataFrames; ``register_views`` additionally exposes them as temp views
so queries can be written in SQL. Scans are plain ``spark.read.parquet``
so Catalyst gets full pushdown/pruning; no DATA is cached here —
callers decide what to persist. The analyzed DataFrame (file listing +
parquet-footer schema) IS memoized per (session, path): re-listing the
same immutable fixture directory on every query build costs 0.2-0.4 s
of driver time and returns an identical plan. On a real cluster the
same role is played by catalog tables (metastore schema, no per-query
footer reads).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_DF_MEMO: dict[tuple[str, str], DataFrame] = {}

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any realistic scale factor.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})

# Catalog schema pins: (sf_dir, table) -> StructType/DDL. The metastore
# stand-in for evolving tables — load_table reads through the pinned
# schema when the caller didn't pass one, so REGISTRY queries (which
# load by name) survive multi-vintage directories once the catalog
# knows the table's current schema. Single-vintage fixtures need none.
_SCHEMA_PINS: dict[tuple[str, str], object] = {}


def pin_table_schema(sf_dir: str, name: str, schema) -> None:
    """Register (or clear, with ``schema=None``) the catalog schema for
    one table path. See scripts/schema_evolution_sweep.py for the
    posture this exists to pin: footer inference on a multi-vintage
    directory is listing-order-dependent and fails outright on
    int->long widened vintages, while an explicit schema reads every
    vintage via Spark 4's scan-side type widening."""
    key = (sf_dir.rstrip("/"), name)
    if schema is None:
        _SCHEMA_PINS.pop(key, None)
    else:
        _SCHEMA_PINS[key] = schema


def pinned_schema_for_path(path: str):
    """Resolve the catalog schema pin for a raw table PATH, or None.

    Maintenance ops (operators/partitioning.py ``optimize_table``) take
    a path, not a (sf_dir, table) pair — but they run on exactly the
    multi-vintage tables the pins exist for, and §5v showed that plain
    inference there either crashes the scan (widened vintages) or
    silently DROPS added columns from the rewritten copy. This maps a
    path back onto the pin registry so the one-call OPTIMIZE reads
    through the catalog contract by default. Matches both the fixture
    layout (``sf_dir/name.parquet``) and bare ``sf_dir/name`` dirs
    (app workdir tables).
    """
    p = path.rstrip("/")
    for (sf_dir, name), schema in _SCHEMA_PINS.items():
        if p == table_path(sf_dir, name) or p == f"{sf_dir}/{name}":
            return schema
    return None


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load_table(
    spark: SparkSession, sf_dir: str, name: str, schema=None
) -> DataFrame:
    """Load one fixture table.

    ``schema`` (StructType or DDL string) pins the read schema — the
    evolving-lake posture (scripts/schema_evolution_sweep.py): a 100 TB
    table's partitions disagree over time (added columns, int->long
    widening), footer INFERENCE on such a directory resolves to
    whichever file lists first (order-dependent, and a narrower-than-
    data schema fails the scan), and parquet mergeSchema refuses
    int/long conflicts outright — so readers of multi-vintage tables
    pass the CATALOG schema explicitly (the metastore's job on a real
    lake; Spark 4's scan-side type widening then reads every vintage
    through it). The single-vintage driver fixtures default to
    inference.
    """
    if schema is None:
        schema = _SCHEMA_PINS.get((sf_dir.rstrip("/"), name))
    # applicationId is unique per SparkContext, so a stopped/restarted
    # session never serves stale plans from a dead context.
    memo_key = (
        spark.sparkContext.applicationId,
        table_path(sf_dir, name),
        str(schema),
    )
    cached = _DF_MEMO.get(memo_key)
    if cached is not None:
        return cached
    # events.ts vintage handling. Current fixtures store
    # TIMESTAMP(MICROS, isAdjustedToUTC=false), which every session reads
    # natively as TIMESTAMP_NTZ — naive values, so results match a
    # naive-timestamp oracle regardless of session time zone. Earlier
    # fixture drops stored TIMESTAMP(NANOS), which a session without
    # spark.sql.legacy.parquet.nanosAsLong rejects (PARQUET_TYPE_ILLEGAL)
    # at scan time. The conf is runtime-settable, so set it defensively —
    # callers (e.g. an external harness) may hand us a plain session
    # built without our session factory, and the conf is a no-op for the
    # micros/NTZ form.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf locked down (e.g. Spark Connect policy) — reads of
        # nanos parquet will fail as before; non-events tables unaffected.
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(table_path(sf_dir, name))
    # Legacy nanos fixtures only: nanosAsLong surfaces ts as long;
    # convert by integer nanos->micros division — `div` stays in long
    # arithmetic (a double division would lose precision above 2^53) —
    # then timestampadd onto a naive epoch, which yields TIMESTAMP_NTZ:
    # the same type current micros fixtures read natively, so the NTZ
    # contract (q28's LTZ guard, epoch_seconds_fn's dispatch) holds on
    # BOTH vintages. The old F.timestamp_micros form
    # produced LTZ and regressed q28 on legacy fixtures (round-8 review).
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, LongType):
            df = df.withColumn(
                "ts",
                F.timestampadd(
                    "MICROSECOND",
                    F.expr("ts div 1000"),
                    F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
                ),
            )
    _DF_MEMO[memo_key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view; returns the DataFrames."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
