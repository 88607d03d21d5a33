"""Scheduled API-ingest orchestration (SURVEY §3.2 — the reference's
ELLKAY daily orchestrator, ELLKAY_DAILY_INGEST_TO_RAW_SNOWFLAKE.py).

Per practice: authenticate once, then run its API ingest entries IN
CONFIG ORDER — ordering is load-bearing (``UpdatedPatients`` must
land before the patient-loop endpoints that read its table; reference
:10-11, config practice_ingest_config.json:1379-1433). Each entry
dispatches to one of three fetch patterns (single call / token
pagination / per-entity fan-out), writes RAW with the standard
metadata columns, and failures are contained per-endpoint and
per-practice (continue-on-error, :628-655; per-endpoint statuses land
in the audit log).

Spark shape: a driver-side DAG executor over config entries —
sequential within a practice (the dependency chain), with the HTTP
adapters doing the fetching and one driver-built frame
(``session.local_frame``) + append per endpoint. Practices are
independent and could run in parallel threads; kept sequential for
rate-limit friendliness (the reference's choice too).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ulh_etl_spark.config import IngestEntry, Practice
from ulh_etl_spark.pipeline import write_raw
from ulh_etl_spark.sinks.logs import append_log, clean_error_message, log_row
from ulh_etl_spark.sources.http import (
    Transport,
    entity_fanout_source,
    single_call_source,
    token_paginated_source,
)
from ulh_etl_spark.state import new_run_id


@dataclass
class EndpointResult:
    entry: str
    status: str  # SUCCESS | FAILED | SKIPPED
    rows: int = 0
    error: str = ""


@dataclass
class ApiRunReport:
    practice: str
    parent_run_id: str
    endpoints: list[EndpointResult] = field(default_factory=list)

    @property
    def succeeded(self) -> int:
        return sum(1 for e in self.endpoints if e.status == "SUCCESS")


def lookback_window(
    hours_back: float | None = None,
    clock_skew_hours: float = 6.0,
    now: datetime | None = None,
) -> tuple[datetime, datetime]:
    """Incremental API pull window (reference :313-329): a 7-day (or
    ``hours_back``) lookback with a clock-skew guard subtracted from
    the start so slightly-late remote writes aren't missed."""
    now = now or datetime.now(timezone.utc)
    span = timedelta(hours=hours_back) if hours_back else timedelta(days=7)
    return now - span - timedelta(hours=clock_skew_hours), now


def _fetch(
    spark: SparkSession,
    entry: IngestEntry,
    transport: Transport,
    headers: dict,
) -> DataFrame:
    """Dispatch an API entry to its fetch pattern (reference
    :461-580): options.pattern = single | paginated | fanout."""
    opts = dict(entry.source.options)
    pattern = opts.get("pattern", "single")
    if pattern == "single":
        return single_call_source(
            spark, transport, opts["url"],
            method=opts.get("method", "POST"),
            headers=headers, json_body=opts.get("body"),
        )
    if pattern == "paginated":
        return token_paginated_source(
            spark, transport, opts["begin_url"], opts["next_url"],
            headers=headers, json_body=opts.get("body"),
            max_pages=int(opts.get("max_pages", 1000)),
        )
    if pattern == "fanout":
        ids_table = opts["ids_table"]        # produced by an EARLIER entry
        ids_column = opts["ids_column"]
        ids = spark.table(ids_table).select(ids_column).distinct()
        url_template = opts["url_template"]  # e.g. ".../patient/{id}"
        return entity_fanout_source(
            spark, lambda: transport, ids,
            url_for_id=lambda i: url_template.format(id=i),
            headers=headers,
            api_delay_ms=int(opts.get("api_delay_ms", 2000)),
        )
    raise ValueError(f"unknown api pattern {pattern!r}")


def run_api_practice(
    spark: SparkSession,
    practice: Practice,
    transport: Transport,
    auth_headers_fn: Callable[[Transport], dict] | None = None,
    parent_run_id: str | None = None,
) -> ApiRunReport:
    """Run all API ingest entries for one practice, in config order,
    continue-on-error per endpoint: each endpoint is reported exactly
    once, and an endpoint whose audit row cannot be written is reported
    FAILED with the audit error appended while the next one still
    runs. ``auth_headers_fn`` runs ONCE per practice (the reference
    authenticates once then reuses the token, :318-347)."""
    rid = parent_run_id or new_run_id()
    rpt = ApiRunReport(practice=practice.practice_name, parent_run_id=rid)

    try:
        headers = auth_headers_fn(transport) if auth_headers_fn else {}
    except Exception as e:  # auth failure skips the whole practice
        for entry in practice.ingest:
            if entry.source.kind == "http":
                rpt.endpoints.append(
                    EndpointResult(entry.name, "SKIPPED", error=f"auth: {e}"[:200])
                )
        return rpt

    for entry in practice.ingest:
        if entry.source.kind != "http":
            continue
        started = datetime.now(timezone.utc).replace(tzinfo=None)
        try:
            df = _fetch(spark, entry, transport, headers)
            n = 0
            if not df.isEmpty():
                n = write_raw(df, entry, rid)
                append_log(spark, "RAW", [log_row(
                    new_run_id(), rid, practice.practice_name,
                    entry.name, "SUCCESS", rows_read=n, rows_written=n,
                    started_at=started,
                )])
            rpt.endpoints.append(EndpointResult(entry.name, "SUCCESS", n))
        except Exception as e:  # continue-on-error per endpoint
            error = clean_error_message(str(e))
            try:
                append_log(spark, "RAW", [log_row(
                    new_run_id(), rid, practice.practice_name,
                    entry.name, "FAILED", started_at=started,
                    error_message=error,
                )])
            except Exception as log_error:  # keep continue-on-error
                error += f"; audit row not written: {log_error}"[:300]
            rpt.endpoints.append(EndpointResult(entry.name, "FAILED", error=error))
    return rpt
