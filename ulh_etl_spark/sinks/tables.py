"""Catalog-table sinks (reference K1-K4).

Storage model: managed Spark catalog tables (parquet). MERGE (which
Snowflake gave the reference for free) is implemented over plain
parquet as one staging-table write plus a swap.

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

    The drop-and-clear only runs for ``mode='overwrite'`` — an append
    must extend the existing buckets, and error/ignore semantics rely
    on the table surviving."""
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
    cluster: bool = False,
) -> None:
    """Partitioned overwrite: one directory per partition value, so
    filters on partition columns prune entire directories at plan
    time (PartitionFilters in the scan) — the layout for zone tables
    keyed by practice/ingest-date. The table is dropped through
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
    _drop_with_orphaned_location(df.sparkSession, name)
    if cluster:
        df = df.repartition(*[F.col(c) for c in partition_cols])
    df.write.mode("overwrite").partitionBy(*partition_cols).saveAsTable(name)


def _rename(spark: SparkSession, src: str, dst: str) -> None:
    """ALTER TABLE RENAME, then re-sync a partitioned table's
    partitions: the rename moves the data directory but the metastore's
    per-partition locations stay absolute (classic Hive semantics) and
    still name the old path. Left stale, a later DROP of ``dst`` would
    delete whatever now lives at those paths."""
    spark.sql(f"ALTER TABLE {src} RENAME TO {dst}")
    # catalog metadata, not spark.catalog.listColumns (which runs jobs)
    state = spark._jsparkSession.sessionState()
    meta = state.catalog().getTableMetadata(
        state.sqlParser().parseTableIdentifier(dst)
    )
    if not meta.partitionColumnNames().isEmpty():
        spark.sql(f"REPAIR TABLE {dst} SYNC PARTITIONS")


def _replace(
    spark: SparkSession,
    target: str,
    df: DataFrame,
    partition_cols: list[str] | None = None,
) -> None:
    """Write ``df`` to a staging table and swap it in as ``target``
    (the swap is metadata-only). The old target is renamed aside, not
    dropped, until staging holds its name: if that rename fails the
    old table is put back before the error propagates, so a failed
    swap never leaves ``target`` missing."""
    staging = f"{target}__staging"
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.saveAsTable(staging)
    if not table_exists(spark, target):
        _rename(spark, staging, target)
        return
    aside = f"{target}__aside"
    _drop_with_orphaned_location(spark, aside)
    _rename(spark, target, aside)
    try:
        _rename(spark, staging, target)
    except Exception:
        _rename(spark, aside, target)
        raise
    spark.sql(f"DROP TABLE {aside}")


def _merged_frame(
    spark: SparkSession,
    target: str,
    source_df: DataFrame,
    keys: list[str],
    tiebreak_cols: list[str] | None = None,
) -> tuple[DataFrame, Observation]:
    """``target`` merged with ``source_df``: one row per key, the
    source row winning (then the highest ``tiebreak_cols``). An absent
    target merges as an empty one. The returned Observation carries
    the updated/inserted key tallies once a job evaluates the frame."""
    tgt = (
        spark.table(target) if table_exists(spark, target)
        else source_df.limit(0)
    )
    combined = tgt.withColumn("_prio", F.lit(0)).unionByName(
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
    return merged, obs


def merge_upsert(
    spark: SparkSession,
    target: str,
    source_df: DataFrame,
    keys: list[str],
    tiebreak_cols: list[str] | None = None,
) -> dict[str, int]:
    """K4: MERGE upsert — WHEN MATCHED UPDATE all columns, WHEN NOT
    MATCHED INSERT (reference Rater8_Reviews.ipynb ``run_merge`` on
    (SURVEY_ID, QUESTION_ID)).

    Implementation: union target+source with a priority column,
    keep-latest per key via row_number (source wins), one staging
    write and a swap. One shuffle on the merge keys; the
    updated/inserted tallies ride the SAME job via ``observe()`` on the
    merged frame (no pre-counts, no extra scans). Returns
    {"updated": ..., "inserted": ...} counted per key group — exactly
    what a native MERGE reports. A missing target is created the same
    way, from an empty target side, so the first merge also keeps one
    row per key.

    Precondition: at most one source row per key, OR pass
    ``tiebreak_cols`` (descending; highest wins — mirror of q20's
    ts/event_id tiebreak). Without a tiebreak, duplicate-key source
    rows leave the survivor nondeterministic.
    """
    merged, obs = _merged_frame(spark, target, source_df, keys, tiebreak_cols)
    _replace(spark, target, merged)
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
    _replace(spark, table, compacted, partition_cols)
    return len(spark.table(table).inputFiles())
