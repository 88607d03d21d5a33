"""Incremental-consumption state (SURVEY §1.4, §7.1 `state.py`).

The reference moves data between zones with mutable flags: RAW rows
get ``IS_NEW=1``, REFINED consumes ``WHERE IS_NEW=1`` then flips all
to 0 (RAW_SNOWFLAKE_TO_REFINED_SNOWFLAKE.py:379,717); same for
``IS_VALID`` between REFINED and CURATED. The flip is racy (flips
rows a concurrent load added mid-run — SURVEY §7.4).

Idiomatic replacement: an append-only **watermark table** of consumed
run ids per (stage, source); the next stage LEFT ANTI joins its input
against it. No mutation, no race, and the anti-join broadcasts
because the watermark side is tiny. It is the only consumption
mechanism: the pipeline still writes the flag columns for schema
parity but never flips them.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ulh_etl_spark.session import local_frame
from ulh_etl_spark.sinks.tables import table_exists

WATERMARK_TABLE = "_processed_runs"

_SCHEMA = "stage string, run_id string, processed_at timestamp"


def new_run_id() -> str:
    """Run-lineage id (the reference's PARENT_RUN_ID GUID,
    RAW_ADLS_TO_RAW_SNOWFLAKE.py:1228)."""
    return str(uuid.uuid4())


def processed_runs(
    spark: SparkSession, stage: str, table: str = WATERMARK_TABLE
) -> DataFrame:
    if not table_exists(spark, table):
        return local_frame(spark, [], _SCHEMA).select("run_id")
    return (
        spark.table(table).filter(F.col("stage") == stage).select("run_id").distinct()
    )


def unconsumed(
    spark: SparkSession,
    df: DataFrame,
    stage: str,
    run_col: str = "PARENT_RUN_ID",
    table: str = WATERMARK_TABLE,
) -> DataFrame:
    """Rows whose run id has NOT been consumed by ``stage`` — the
    IS_NEW=1 / IS_VALID=1 read, as a broadcast anti-join."""
    marks = processed_runs(spark, stage, table)
    return df.join(
        F.broadcast(marks), df[run_col] == marks["run_id"], "left_anti"
    )


def mark_consumed(
    spark: SparkSession,
    run_ids: list[str],
    stage: str,
    table: str = WATERMARK_TABLE,
) -> None:
    """Record run ids as consumed by ``stage`` (the flag flip,
    race-free: appends only the ids THIS run actually processed)."""
    if not run_ids:
        return
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    rows = [(stage, rid, now) for rid in set(run_ids)]
    local_frame(spark, rows, _SCHEMA).write.mode("append").saveAsTable(table)
