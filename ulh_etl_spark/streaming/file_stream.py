"""Structured-Streaming file ingest (SURVEY §2.9).

Reproduces the reference's event-driven batch model — ADLS
blob-created -> one pipeline run per file (ADLS_FILE_PRECHECK.py:20-34)
— as a file-source stream: every new file landing in the inbound
directory becomes part of exactly one micro-batch, the checkpoint
provides the exactly-once consumption the IS_NEW/IS_VALID flags
approximated, and ``Trigger.AvailableNow`` gives "process everything
that has arrived, then stop" — the same semantics as the reference's
per-event runs, but transactional.

Scale: the file source lists incrementally and state lives in the
checkpoint, not the table. Every stream here drains with
``Trigger.AvailableNow``, the one trigger the reference's model needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ulh_etl_spark.sources.files import CSV_OPTIONS

# Seconds stream_ingest_available_now waits for its drain to finish.
_TIMEOUT_S = 120.0


def _csv_stream(
    spark: SparkSession,
    directory: str,
    schema: StructType | str,
) -> DataFrame:
    """Streaming read of ``directory``'s comma-separated files, parsed
    with the batch ``csv_scan``'s ``CSV_OPTIONS``."""
    df = (
        spark.readStream.format("csv")
        .schema(schema)  # streams require an explicit schema (no inference race)
        .options(**CSV_OPTIONS)
        .load(directory)
    )
    # same provenance/lineage columns as the batch RAW stage
    # (RAW_ADLS_TO_RAW_SNOWFLAKE.py:1224-1231)
    return (
        df.withColumn("file_name", F.input_file_name())
        .withColumn("file_load_time", F.current_timestamp())
    )


def stream_ingest_available_now(
    spark: SparkSession,
    directory: str,
    schema: StructType | str,
    target_table: str,
    checkpoint_dir: str,
    transform=None,
) -> int:
    """Run one drain-everything cycle into ``target_table`` and wait
    (up to 120 s) for completion — the exact shape of one reference
    pipeline run. ``transform`` optionally applies the refined-stage column logic
    inside the stream (transforms are narrow, so they stream as-is).
    Returns rows in the target table afterwards. Re-invoking after new
    files land processes ONLY the new files (checkpoint = the IS_NEW
    flags, without the race). A drain still running at the deadline is
    stopped and raises ``TimeoutError``; the next call resumes it from
    the checkpoint."""
    df = _csv_stream(spark, directory, schema)
    if transform is not None:
        df = transform(df)
    q = (
        df.writeStream.option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .toTable(target_table)
    )
    if not q.awaitTermination(_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"drain into {target_table} still running after {_TIMEOUT_S} s; "
            f"stopped, resume from checkpoint {checkpoint_dir}"
        )
    return spark.table(target_table).count()


def stream_merge_available_now(
    spark,
    inbound_dir: str,
    schema: str,
    target_table: str,
    checkpoint_dir: str,
    keys: list[str],
) -> dict:
    """Streaming MERGE sink: drain the inbound directory exactly-once
    (AvailableNow + checkpoint) and upsert each micro-batch into the
    target by key — the streaming twin of sinks.tables.merge_upsert
    (K4) via ``foreachBatch``. Late re-deliveries of a key overwrite
    the stored row instead of appending a duplicate, which is the CDC
    / at-least-once-source contract an append sink can't give.

    Scale: each micro-batch pays one merge-key shuffle over
    batch + matched-target rows; checkpointing makes re-runs no-ops.
    Returns the accumulated {"updated": n, "inserted": n} across the
    drained batches.
    """
    from ulh_etl_spark.sinks.tables import merge_upsert

    stats = {"updated": 0, "inserted": 0}

    def _merge(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = merge_upsert(
            batch_df.sparkSession,
            target_table,
            batch_df,
            keys=keys,
        )
        stats["updated"] += out["updated"]
        stats["inserted"] += out["inserted"]

    q = (
        _csv_stream(spark, inbound_dir, schema)
        .writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stats


def stream_neardup_screen_available_now(
    spark,
    inbound_dir: str,
    schema: str,
    text_col: str,
    id_col: str,
    store_dir: str,
    results_table: str,
    checkpoint_dir: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 4,
) -> dict:
    """Streaming incremental NEAR-dup screening: drain the inbound
    directory exactly-once (AvailableNow + checkpoint) and, per
    micro-batch via ``foreachBatch``,
      1. screen the batch against the at-rest LSH band store with
         operators.dedup.incremental_neardup (dup_vs_store /
         dup_in_batch flags — the historical corpus is never re-read,
         only its band table),
      2. append the flags to ``results_table``,
      3. append the batch's OWN band rows to the store so later
         batches collide with them (dup docs' bands included — future
         batches should collide with the kept representative's
         buckets; see the batch operator's docstring).
    The signature/band pass runs ONCE per batch: the same band frame
    (persisted) feeds both the screen and the store append through
    incremental_neardup's ``new_bands`` hook, so stream and batch
    flags are identical by construction (pinned by test).

    At-least-once note: a micro-batch REPLAYED after a crash between
    steps 2 and 3 can append duplicate band rows / result rows.
    Band-store duplicates are harmless for correctness (the screen
    distinct-projects the store); exactly-once results need the
    table swapped for a transactional sink (Delta) or a merge keyed
    on (batch_id, id) — same caveat as every foreachBatch sink.

    Scale: per micro-batch, one signature narrow map + one
    (band_idx, band_key) shuffle over batch + store-distinct rows;
    the store is an append-only parquet dir partitioned by nothing
    (band joins are uniform-hash keyed). Returns {"screened": n,
    "flagged_vs_store": n, "flagged_in_batch": n} accumulated across
    drained batches."""
    import os

    from pyspark.storagelevel import StorageLevel

    from ulh_etl_spark.operators.dedup import (
        incremental_neardup,
        lsh_bands,
        minhash_signatures,
    )

    stats = {"screened": 0, "flagged_vs_store": 0, "flagged_in_batch": 0}

    def _screen(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        bands = lsh_bands(
            minhash_signatures(
                batch_df, text_col, id_col, num_hashes, shingle_n
            ),
            id_col,
            num_hashes,
            rows_per_band,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if os.path.isdir(store_dir):
                store = sess.read.parquet(store_dir)
            else:  # first batch ever: empty store, same schema
                store = bands.limit(0)
            flags = incremental_neardup(
                batch_df,
                store,
                text_col,
                id_col,
                num_hashes,
                rows_per_band,
                shingle_n,
                new_bands=bands,
            ).persist(StorageLevel.MEMORY_AND_DISK)
            flags.write.mode("append").saveAsTable(results_table)
            # stats BEFORE the store append: the parquet read lists
            # files at action time, so a cache-missed recompute of
            # `flags` after the append would screen the batch against
            # its OWN bands (every doc self-hits the store)
            agg = flags.agg(
                F.count("*").alias("n"),
                F.sum(F.col("dup_vs_store").cast("long")).alias("s"),
                F.sum(F.col("dup_in_batch").cast("long")).alias("b"),
            ).collect()[0]
            stats["screened"] += agg["n"]
            stats["flagged_vs_store"] += int(agg["s"] or 0)
            stats["flagged_in_batch"] += int(agg["b"] or 0)
            # store append LAST, after every consumer of the old store
            bands.write.mode("append").parquet(store_dir)
            flags.unpersist()
        finally:
            bands.unpersist()

    q = (
        _csv_stream(spark, inbound_dir, schema)
        .drop("file_name", "file_load_time")
        .writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stats


def stream_fm_registers_available_now(
    spark,
    inbound_dir: str,
    schema: str,
    key_col: str,
    store_dir: str,
    checkpoint_dir: str,
    n_registers: int = 64,
) -> dict:
    """Streaming distinct-count maintenance: drain the inbound
    directory exactly-once (AvailableNow + checkpoint) and, per
    micro-batch via ``foreachBatch``, MAX-merge the batch's FM/HLL
    register table (operators.sketch.fm_registers) into the at-rest
    store — the registers are a max-monoid, so the merged store after
    any batch slicing equals the one-shot batch sketch over the same
    rows (pinned by test against the batch operator). The history is
    never re-read: each merge touches <= n_registers store rows plus
    the batch.

    The per-batch distinct audit column is dropped before the store
    merge — exact distincts do NOT max-merge (that is the point of
    the sketch); the store carries only (register, max_rho).

    At-least-once note: a replayed micro-batch re-merges the same
    registers — MAX is idempotent, so unlike the band-store append
    (stream_neardup_screen_available_now) the FM store is safe under
    replay with a plain parquet overwrite-swap.

    Returns {"batches": n, "keys_seen": n} accumulated across
    drained batches."""
    import os

    from pyspark.sql import functions as F

    from ulh_etl_spark.operators.sketch import fm_registers
    from ulh_etl_spark.streaming.store import recover_store, swap_store

    stats = {"batches": 0, "keys_seen": 0}

    def _merge(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # crash-window recovery + write-then-swap live in
        # streaming.store (shared with the KMV quantile store): the
        # swap never overwrites the dir being read, and a crash
        # leaves a complete store at either the live path or the
        # ._bak_ sibling (recover_store restores the swap window) —
        # so checkpoint replay always re-merges into a complete
        # history instead of silently resetting it. MAX is the
        # idempotent merge rule replay relies on.
        recover_store(store_dir)
        sess = batch_df.sparkSession
        regs = (
            fm_registers(batch_df, key_col, n_registers)
            .select("register", "max_rho")
        )
        if os.path.isdir(store_dir):
            old = sess.read.parquet(store_dir)
            regs = (
                old.unionByName(regs)
                .groupBy("register")
                .agg(F.max("max_rho").cast("int").alias("max_rho"))
            )
        swap_store(regs, store_dir, batch_id)
        stats["batches"] += 1
        stats["keys_seen"] += batch_df.count()

    q = (
        spark.readStream.schema(schema)
        .parquet(inbound_dir)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_merge)
        .start()
    )
    q.awaitTermination()
    return stats


def stream_kmv_quantile_store_available_now(
    spark,
    inbound_dir: str,
    schema: str,
    value_col: str,
    key_col: str,
    store_dir: str,
    checkpoint_dir: str,
    k: int = 64,
) -> dict:
    """Streaming quantile-sketch maintenance — the q202 incremental
    KMV merge as an AvailableNow stream: drain the inbound directory
    exactly-once and, per micro-batch via ``foreachBatch``, merge the
    batch's bottom-k register table
    (operators.sketch.quantile_sample_registers) into the at-rest
    store by distinct-union + re-take-bottom-(h, key). The KMV merge
    invariance (pinned by pytest on the batch operator) makes the
    merged store after ANY batch slicing equal the one-shot sketch
    over the same rows; history is never re-read — each merge
    touches <= 2k rows whatever the corpus size.

    Crash safety is the shared streaming.store swap protocol (same
    as the FM register store): write-stage, rename-aside, swap,
    recover-from-bak at the top of every merge. Replay safety is the
    merge rule: the union DISTINCTs on (h, key) before the bottom-k,
    so a replayed micro-batch re-merging the same registers is a
    no-op (set-union idempotence — the KMV analogue of FM's MAX).

    Returns {"batches": n, "rows_seen": n} accumulated across
    drained batches."""
    import os

    from ulh_etl_spark.operators.sketch import quantile_sample_registers
    from ulh_etl_spark.streaming.store import recover_store, swap_store

    stats = {"batches": 0, "rows_seen": 0}

    def _merge(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        recover_store(store_dir)
        sess = batch_df.sparkSession
        regs = quantile_sample_registers(batch_df, value_col, key_col, k=k)
        if os.path.isdir(store_dir):
            old = sess.read.parquet(store_dir)
            regs = (
                old.unionByName(regs)
                .dropDuplicates(["h", "key"])
                .orderBy("h", "key")
                .limit(k)
            )
        swap_store(regs, store_dir, batch_id)
        stats["batches"] += 1
        stats["rows_seen"] += batch_df.count()

    q = (
        spark.readStream.schema(schema)
        .parquet(inbound_dir)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_merge)
        .start()
    )
    q.awaitTermination()
    return stats
