"""SparkSession construction + test-table registration.

Scale posture: the defaults below are tuned so the same code runs on
local[N] for tests and on a multi-executor cluster unchanged — AQE
re-plans shuffle partition counts at runtime, broadcast thresholds stay
at Spark defaults, and parquet scans keep pushdown/pruning enabled.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string

# The canonical synthetic star-schema tables the driver generates
# (TESTDATA.md). `documents`/`embeddings` serve the training-data ops.
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


def get_spark(app_name: str = "ulh_etl_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime shuffle-partition coalescing, broadcast-join
      conversion, and skew-join splitting — the knobs that matter at
      100 TB are the same ones that keep local runs fast.
    - Arrow on: any pandas interchange (createDataFrame, pandas UDFs)
      goes through columnar batches instead of pickled rows.
    - UTC session timezone: deterministic timestamp semantics vs the
      DuckDB oracle.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    # SPARK_GRAFT_LOCAL_DIR redirects shuffle/spill files (bench.py
    # points it at tmpfs to shed this box's disk stalls — see
    # BASELINE.md host note). The LIBRARY default stays on disk:
    # RAM-backed local dirs cap shuffle capacity at free memory, the
    # wrong trade for arbitrary workloads.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.local.dir", local_dir or "/tmp")
        # The whole-stage-codegen class cache defaults to 100 entries;
        # a catalog of 70+ queries (some compiling to very large
        # classes — the md5/array dedup pipelines) thrashes it, and an
        # evicted entry costs seconds of Janino recompilation on next
        # use. Static conf — must be set at session build.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # testdata events.parquet carries TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert on load.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """DataFrame over driver-held ``rows`` (tuples in ``schema`` field
    order; ``schema`` is a DDL string or a StructType).

    The rows travel as one ``pyarrow.Table`` and plan as a
    ``LocalTableScan``. ``createDataFrame(<python list>)`` plans as
    ``Scan ExistingRDD`` over a Python RDD instead, so every action on
    it (even a one-row audit append) runs Python-worker tasks.
    Timestamps are naive UTC datetimes."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Lazy-plan handle cache for load_table. Re-reading a bare parquet
# path pays file listing + footer schema inference EVERY call
# (~100 ms measured) — across a 169-query bench pass that is ~25 s of
# pure metadata re-derivation, and at 100 TB the repeated listing is
# exactly what the table-format/metadata-cache guidance exists to
# avoid. The cache holds the unresolved DataFrame PLAN only: every
# execution still scans the parquet inputs (nothing is persisted or
# precomputed — a noop-sink run recomputes every row), so bench and
# oracle semantics are unchanged. Keyed on the session, the resolved
# path, and the table's newest mtime, so a rewritten fixture (the
# tests overwrite tmp tables in place) invalidates naturally.
_TABLE_PLAN_CACHE: dict[tuple[int, str, float], DataFrame] = {}


def _table_mtime(path: str) -> float:
    """Newest mtime across the table directory AND its entries.

    The directory mtime alone is create/delete/rename-granular: a
    part file rewritten IN PLACE leaves it unchanged, and the cached
    plan would serve a stale file listing/schema (ADVICE r16). One
    os.scandir is sub-ms next to the ~100 ms JVM listing+footer pass
    the cache exists to avoid."""
    try:
        mt = os.path.getmtime(path)
    except OSError:
        return -1.0
    try:
        with os.scandir(path) as entries:
            for entry in entries:
                try:
                    emt = entry.stat().st_mtime
                except OSError:
                    continue
                if emt > mt:
                    mt = emt
    except (NotADirectoryError, OSError):
        pass
    return mt


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = table_path(sf_dir, name)
    key = (id(spark), path, _table_mtime(path))
    cached = _TABLE_PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    # Evict superseded entries for the same (session, path): without
    # this every fixture rewrite leaks its predecessor's plan handle
    # for the process lifetime (ADVICE r16).
    for stale in [
        k for k in _TABLE_PLAN_CACHE
        if k[0] == key[0] and k[1] == key[1]
    ]:
        del _TABLE_PLAN_CACHE[stale]
    # The conf is runtime-settable, and the correctness driver owns its
    # own SparkSession built without our builder defaults — set it here
    # so ANY session can read the TIMESTAMP(NANOS) events.parquet.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    # Normalize the event-time column to TimestampType (LTZ) no matter
    # how the parquet writer encoded it, so downstream event-time logic
    # (unix_micros, window, lag arithmetic) sees ONE type:
    # - TIMESTAMP(NANOS) arrives as long (nanosAsLong conf above)
    # - timestamp[us] without tz arrives as TIMESTAMP_NTZ, which many
    #   Spark time functions (unix_micros, casts to numeric) reject.
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, LongType):
            # Integer division, NOT `/`: ts is epoch-nanos ~1.7e18, and
            # double division (what `/` compiles to) only carries 52
            # mantissa bits — the truncated micros would be off by up
            # to ~250ns vs the parquet-native nanos->micros truncation.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif isinstance(dt, TimestampNTZType):
            # NTZ -> LTZ uses the session timezone; the naive parquet
            # value must be interpreted as UTC (matching how DuckDB and
            # pandas read the same file). Cast captures its timeZoneId
            # when the plan is analyzed — and PySpark analyzes eagerly
            # at DataFrame construction — so pinning UTC only around
            # this withColumn is sufficient, and restoring the prior
            # value means a driver-owned session deliberately running
            # in another zone keeps its timestamp semantics for every
            # unrelated query (a permanent conf mutation here would
            # silently change them all).
            prior = spark.conf.get("spark.sql.session.timeZone")
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            try:
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            finally:
                spark.conf.set("spark.sql.session.timeZone", prior)
    _TABLE_PLAN_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every test table under ``sf_dir`` and register each as a
    temp view so both the DataFrame API and ``spark.sql`` can address
    them (reference analog: Snowflake schema-qualified tables,
    SURVEY §1.1)."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        p = table_path(sf_dir, name)
        if os.path.exists(p):
            # Route through load_table so the nanos conf + the events
            # ts long→timestamp normalization apply to the temp views
            # too — otherwise SQL-path consumers see a diverging type.
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
