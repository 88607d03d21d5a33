"""Catalog-table sinks (reference K1-K4).

Storage model: managed Spark catalog tables (parquet). MERGE (which
Snowflake gave the reference for free) is implemented over plain
parquet via a staging-table swap or, for partitioned targets, a
dynamic partition overwrite.

Scale notes: merge_upsert shuffles once on the merge keys and keeps
map-side dedup via row_number; the staging swap is a metadata
operation, not a data copy. The reference's K5, the IS_NEW/IS_VALID
flag-flip UPDATE, has no sink: incremental consumption between zones
is ulh_etl_spark.state's watermark anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def table_exists(spark: SparkSession, name: str) -> bool:
    """Existence probe (reference A5 queries INFORMATION_SCHEMA,
    RAW_SNOWFLAKE_TO_REFINED_SNOWFLAKE.py:690-696)."""
    return spark.catalog.tableExists(name)


def write_table(df: DataFrame, name: str, mode: str = "append") -> None:
    """K1: append / overwrite / create-if-absent
    (reference RAW_ADLS_TO_RAW_SNOWFLAKE.py:722-752)."""
    df.write.mode(mode).saveAsTable(name)


def truncate_table(spark: SparkSession, name: str) -> None:
    """K2: TRUNCATE before load (reference :713-720). Implemented as
    an empty overwrite preserving schema."""
    if table_exists(spark, name):
        spark.sql(f"TRUNCATE TABLE {name}")


def insert_select(
    spark: SparkSession, target: str, source_df: DataFrame
) -> int:
    """K3: INSERT INTO target SELECT ... — column-aligned append (the
    curated load, REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:1413-1430).
    Returns rows written.

    The row count rides the write job via ``observe()`` — a separate
    ``count()`` would evaluate the full source plan (projection +
    joins) twice per load."""
    obs = Observation()
    observed = source_df.observe(obs, F.count(F.lit(1)).alias("rows"))
    if table_exists(spark, target):
        cols = [f.name for f in spark.table(target).schema.fields]
        observed.select(*cols).write.mode("append").insertInto(target)
    else:
        observed.write.saveAsTable(target)
    return int(obs.get["rows"])


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table write: co-locates rows by hash(bucket
    cols) at WRITE time, so later equi-joins/aggregations on those
    columns skip their shuffle entirely (Catalyst sees the bucketing
    and drops the Exchange). The 100 TB play: bucket the big fact
    tables on their join key once, join shuffle-free forever after.
    Sorted within buckets for sort-merge-friendly probes.

    The drop-and-clear only runs for ``mode='overwrite'`` (mirroring
    ``write_partitioned``) — an append must extend the existing
    buckets, and error/ignore semantics rely on the table surviving."""
    spark = df.sparkSession
    if mode == "overwrite":
        _drop_with_orphaned_location(spark, name)
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(name)
    )


def _drop_with_orphaned_location(spark: SparkSession, name: str) -> None:
    """DROP plus orphaned-directory cleanup. A managed table's
    LOCATION outlives an in-memory catalog: files from a previous
    session block re-creation under the same name
    (LOCATION_ALREADY_EXISTS) because the fresh catalog has no table
    entry for DROP to clean. Clear the orphaned directory; under a
    persistent metastore the DROP already handled it and the delete
    is a no-op."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    loc = jvm.org.apache.hadoop.fs.Path(warehouse, name.lower())
    fs = loc.getFileSystem(conf)
    if fs.exists(loc) and not fs.delete(loc, True):
        raise IOError(f"failed to clear orphaned table location {loc}")


def write_partitioned(
    df: DataFrame,
    name: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    cluster: bool = False,
) -> None:
    """Partitioned write: one directory per partition value, so
    filters on partition columns prune entire directories at plan
    time (PartitionFilters in the scan) — the layout for zone tables
    keyed by practice/ingest-date. Overwrites drop through
    ``_drop_with_orphaned_location`` first — a prior session's
    managed-table directory otherwise blocks re-creation under a
    fresh in-memory catalog (the q182 cross-session bench failure).

    ``cluster=True`` hash-repartitions on the partition columns
    before the write, so each partition value lands in ONE write
    task and each directory gets one file instead of one per
    (task, value) pair. Without it, T scan tasks over P partition
    values emit up to T·P files — the many-small-files write. The
    shuffle it costs moves each row once and AQE sizes the task
    count from the data. Off by default: callers that pre-shaped
    their input (a repartition(n) for parallel readers) keep their
    layout."""
    if mode == "overwrite":
        _drop_with_orphaned_location(df.sparkSession, name)
    if cluster:
        df = df.repartition(*[F.col(c) for c in partition_cols])
    df.write.mode(mode).partitionBy(*partition_cols).saveAsTable(name)


def _swap_staging(spark: SparkSession, target: str, staging: str) -> None:
    """Replace ``target`` with ``staging`` (metadata-only swap)."""
    spark.sql(f"DROP TABLE IF EXISTS {target}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {target}")


def merge_upsert(
    spark: SparkSession,
    target: str,
    source_df: DataFrame,
    keys: list[str],
    tiebreak_cols: list[str] | None = None,
    partition_cols: list[str] | None = None,
    check_partition_stability: bool = False,
) -> dict[str, int]:
    """K4: MERGE upsert — WHEN MATCHED UPDATE all columns, WHEN NOT
    MATCHED INSERT (reference Rater8_Reviews.ipynb ``run_merge`` on
    (SURVEY_ID, QUESTION_ID)).

    Implementation: union target+source with a priority column,
    keep-latest per key via row_number (source wins). One
    shuffle on the merge keys; the updated/inserted tallies ride the
    SAME job via ``observe()`` on the merged frame (no pre-counts, no
    extra scans). Returns {"updated": ..., "inserted": ...} counted
    per key group — exactly what a native MERGE reports.

    Precondition: at most one source row per key, OR pass
    ``tiebreak_cols`` (descending; highest wins — mirror of q20's
    ts/event_id tiebreak). Without a tiebreak, duplicate-key source
    rows leave the survivor nondeterministic.

    ``partition_cols``: when the target is partitioned on these
    columns, the merge only reads + rewrites the partitions the source
    touches (dynamic partition overwrite) instead of the whole table —
    the rewrite is bounded by the source's partition footprint, which
    is what keeps a parquet MERGE viable at 100 TB.

    PRECONDITION (partitioned mode): a key's partition value must be
    STABLE — if a source row moves a key to a different partition, the
    old row survives in its untouched partition (duplicate key) and
    the tally counts the key as inserted. This is the standard dynamic
    -partition-overwrite caveat (Hive behaves identically; Delta MERGE
    detects it). Set ``check_partition_stability=True`` to pay one
    anti-join scan of the out-of-footprint target partitions and fail
    fast instead.
    """
    if not table_exists(spark, target):
        obs = Observation()
        observed = source_df.observe(obs, F.count(F.lit(1)).alias("rows"))
        writer = observed.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.saveAsTable(target)
        return {"updated": 0, "inserted": int(obs.get["rows"])}

    tgt = spark.table(target)
    if partition_cols:
        # restrict the target side to partitions the source touches;
        # the broadcast semi-join prunes untouched directories
        touched = source_df.select(*partition_cols).distinct()
        tgt_side = tgt.join(F.broadcast(touched), partition_cols, "left_semi")
        if check_partition_stability:
            # a source key living in an UNtouched target partition
            # means the key is moving partitions — the overwrite would
            # leave the stale row behind. One extra scan, opt-in.
            outside = tgt.join(
                F.broadcast(touched), partition_cols, "left_anti"
            )
            movers = outside.join(
                F.broadcast(source_df.select(*keys).distinct()),
                keys,
                "left_semi",
            )
            n_movers = movers.count()
            if n_movers:
                raise ValueError(
                    f"merge_upsert: {n_movers} key(s) change partition "
                    f"value(s) {partition_cols}; dynamic partition "
                    "overwrite would strand their old rows. Merge "
                    "without partition_cols or delete the old rows "
                    "first."
                )
    else:
        tgt_side = tgt

    combined = tgt_side.withColumn("_prio", F.lit(0)).unionByName(
        source_df.withColumn("_prio", F.lit(1))
    )
    order = [F.col("_prio").desc()] + [
        F.col(c).desc() for c in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    wk = Window.partitionBy(*keys)
    merged = (
        combined.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_had_tgt",
            F.max(F.when(F.col("_prio") == 0, 1).otherwise(0)).over(wk),
        )
        .filter(F.col("_rn") == 1)
    )
    obs = Observation()
    merged = merged.observe(
        obs,
        F.count(
            F.when((F.col("_prio") == 1) & (F.col("_had_tgt") == 1), 1)
        ).alias("updated"),
        F.count(
            F.when((F.col("_prio") == 1) & (F.col("_had_tgt") == 0), 1)
        ).alias("inserted"),
    ).drop("_prio", "_rn", "_had_tgt")

    if partition_cols:
        # dynamic mode: only partitions present in `merged` (= the
        # touched ones) are replaced; everything else is untouched
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            cols = [f.name for f in tgt.schema.fields]
            merged.select(*cols).write.mode("overwrite").insertInto(target)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    else:
        staging = f"{target}__staging"
        merged.write.mode("overwrite").saveAsTable(staging)
        _swap_staging(spark, target, staging)
    m = obs.get
    return {"updated": int(m["updated"]), "inserted": int(m["inserted"])}


def compact_table(
    spark: SparkSession,
    table: str,
    target_partitions: int | None = None,
    partition_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite ``table`` into
    ``target_partitions`` files (default: sized by
    spark.sql.files.maxPartitionBytes worth of input splits).

    Streaming/micro-batch sinks accrete one-file-per-trigger; at scale
    the file count — not the byte count — dominates scan planning and
    open() overhead. Compaction is a full rewrite, so run it on cold
    partitions; with ``partition_cols`` the layout is preserved and
    the rewrite can be limited to recent partitions by the caller.
    Returns the number of files after compaction.
    """
    df = spark.table(table)
    # file-count metadata, not df.rdd (which can execute the plan
    # under AQE — see operators/dedup._fan_out)
    n = target_partitions or max(1, len(df.inputFiles()) // 8)
    compacted = (
        df.repartition(n, *partition_cols) if partition_cols
        else df.repartition(n)
    )
    staging = f"{table}__compact_staging"
    writer = compacted.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.saveAsTable(staging)
    _swap_staging(spark, table, staging)
    if partition_cols:
        # ALTER TABLE RENAME moves the data directory but the
        # metastore's per-partition locations still reference the old
        # staging path (absolute locations — classic Hive semantics);
        # re-sync them from the filesystem.
        spark.sql(f"MSCK REPAIR TABLE {table}")
        spark.catalog.refreshTable(table)
    return len(spark.table(table).inputFiles())
