"""Audit-log sink (reference K6): four per-stage append-only
``*_INGEST_LOG`` tables with run lineage and timings
(RAW_ADLS_TO_RAW_SNOWFLAKE.py:316-382 and the three sibling loggers).

Implemented as parameterized DataFrame appends — deliberately NOT
string-spliced SQL (the reference escapes quotes by hand into INSERT
VALUES; SURVEY §7.1 calls out fixing that). One append writes any
number of rows from a driver-built ``LocalTableScan``: PRECHECK logs
all of a landing's files in one write, the other stages one row each
when they finish."""

from __future__ import annotations

import re
import uuid
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from ulh_etl_spark.session import local_frame

LOG_SCHEMA = (
    "log_id string, stage string, run_id string, parent_run_id string, "
    "practice string, entry string, status string, rows_read bigint, "
    "rows_written bigint, started_at timestamp, finished_at timestamp, "
    "duration_seconds double, error_message string"
)

STAGES = ("PRECHECK", "RAW", "REFINED", "CURATED")

# Engine-noise prefix in surfaced error messages (reference F19 strips
# the same `(\d+): uuid: ... (CODE):` prefix before logging/notifying,
# RAW_ADLS_TO_RAW_SNOWFLAKE.py:760-766).
_ERROR_PREFIX = re.compile(
    r"^\(\d+\):\s*(?:[0-9a-fA-F-]{8,}:\s*)?(?:\d+\s*)?(?:\([A-Z0-9]+\):\s*)?"
)


# Longest error message an audit row or notification carries.
_MAX_ERROR_LEN = 500


def clean_error_message(msg: str) -> str:
    """Strip engine-internal error prefixes so logs/notifications
    carry the human-relevant message, cut to 500 characters."""
    return _ERROR_PREFIX.sub("", (msg or "").strip())[:_MAX_ERROR_LEN]


def log_table_name(stage: str) -> str:
    return f"{stage.lower()}_ingest_log"


def log_row(
    run_id: str,
    parent_run_id: str,
    practice: str,
    entry: str,
    status: str,
    rows_read: int = 0,
    rows_written: int = 0,
    started_at: datetime | None = None,
    finished_at: datetime | None = None,
    error_message: str = "",
) -> tuple:
    """One audit row in ``LOG_SCHEMA`` order, minus ``log_id`` and
    ``stage`` (``append_log`` fills both). Times are naive UTC and
    default to now."""
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    started = (started_at or now).replace(tzinfo=None)
    finished = (finished_at or now).replace(tzinfo=None)
    return (
        run_id,
        parent_run_id,
        practice,
        entry,
        status,
        rows_read,
        rows_written,
        started,
        finished,
        (finished - started).total_seconds(),
        error_message,
    )


def append_log(spark: SparkSession, stage: str, rows: list[tuple]) -> None:
    """Append the ``log_row`` tuples in ``rows`` to ``stage``'s log
    table in one write."""
    if not rows:
        return
    local_frame(
        spark, [(str(uuid.uuid4()), stage, *r) for r in rows], LOG_SCHEMA
    ).write.mode("append").saveAsTable(log_table_name(stage))
