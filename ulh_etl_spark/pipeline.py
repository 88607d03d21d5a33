"""Stage orchestration (SURVEY §3.1, §7.1 `pipeline.py`).

The reference chains five warehouse jobs per file event —
PRECHECK → RAW → REFINED → CURATED → archive — passing a
pipe-delimited ``practice|file_type|PARENT_RUN_ID`` argument between
notebooks (RAW_ADLS_TO_RAW_SNOWFLAKE.py:889). Here the chain is plain
function calls inside one SparkSession: one driver program per
pipeline run, stage boundaries are just DataFrames, and lineage is a
propagated ``PARENT_RUN_ID`` column plus per-stage audit-log rows.

Incremental consumption uses the watermark anti-join from
``ulh_etl_spark.state`` (race-free replacement for the reference's
IS_NEW/IS_VALID flag flips — SURVEY §7.4); the flag columns are still
written for schema parity but never flipped.

Scale: each stage is one narrow projection + one append write — no
shuffle anywhere in the ingest path except the curated lookup join,
which broadcasts (lookup tables are small dimension tables). The
per-file loop the reference runs is replaced by ONE distributed CSV
scan over the full passing-file list with ``input_file_name()``
provenance.
"""

from __future__ import annotations

import posixpath
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ulh_etl_spark.config import IngestConfig, IngestEntry, Practice
from ulh_etl_spark.functions.mapping import apply_mappings
from ulh_etl_spark.functions.predicates import apply_source_filter, future_only_filter
from ulh_etl_spark.functions.transforms import TransformSpec
from ulh_etl_spark.resolve import ColumnResolver
from ulh_etl_spark.sinks.logs import append_log, clean_error_message, log_row
from ulh_etl_spark.sinks.tables import insert_select, table_exists, write_table
from ulh_etl_spark.sources.files import (
    FileInfo,
    count_lines,
    csv_scan,
    list_stage_files,
    move_file,
)
from ulh_etl_spark.sources.query import query_source
from ulh_etl_spark.state import mark_consumed, new_run_id, unconsumed
from ulh_etl_spark.validate import PrecheckReport, precheck_file

Notifier = Callable[[str, dict], None]

# Concurrent archive moves: the reference's ADF ForEach ``batchCount``
# (archive_inbound_files.json:15-16).
_ARCHIVE_THREADS = 10


@dataclass
class RunReport:
    """What one pipeline run did (the reference scatters this across
    four log tables and Teams posts; here it's also a return value)."""

    practice: str
    entry: str
    parent_run_id: str
    status: str = "SUCCESS"
    precheck: list[PrecheckReport] = field(default_factory=list)
    files_loaded: list[str] = field(default_factory=list)
    files_rejected: list[str] = field(default_factory=list)
    rows_raw: int = 0
    rows_refined: int = 0
    rows_curated: int = 0
    record_type_distribution: dict[str, int] = field(default_factory=dict)
    error: str = ""


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _norm_transforms(specs: list[dict]) -> list[TransformSpec]:
    """Accept both {kind, column, params:{...}} and flat
    {kind, column, **params} config shapes."""
    out = []
    for s in specs:
        if isinstance(s, TransformSpec):
            out.append(s)
            continue
        d = dict(s)
        kind, column = d.pop("kind"), d.pop("column")
        params = d.pop("params", None) or d
        out.append(TransformSpec(kind=kind, column=column, params=params))
    return out


# ---------------------------------------------------------------- stages


def stage_precheck(
    spark: SparkSession,
    entry: IngestEntry,
    files: list[FileInfo],
    parent_run_id: str,
    practice: str,
) -> tuple[list[FileInfo], list[tuple[FileInfo, PrecheckReport]], list[PrecheckReport]]:
    """Per-file contract validation; returns (passing, failing, reports).
    Every file's line count comes from one job, and the per-file audit
    rows land in one append when the stage finishes."""
    passing: list[FileInfo] = []
    failing: list[tuple[FileInfo, PrecheckReport]] = []
    reports: list[PrecheckReport] = []
    log_rows: list[tuple] = []
    contract = entry.precheck
    line_counts = count_lines(spark, [f.path for f in files if f.size > 0])
    for f in files:
        started = _utcnow()
        rpt = precheck_file(
            spark, f, contract, delimiter=entry.source.delimiter,
            line_count=line_counts.get(f.path, 0),
        )
        reports.append(rpt)
        if rpt.passed:
            passing.append(f)
        else:
            failing.append((f, rpt))
        log_rows.append(log_row(
            new_run_id(), parent_run_id, practice, entry.name,
            "SUCCESS" if rpt.passed else "FAILED",
            started_at=started, finished_at=_utcnow(),
            error_message="" if rpt.passed else "; ".join(
                f"{r.check}={r.actual}" for r in rpt.results if r.status == "FAIL"
            )[:500],
        ))
    append_log(spark, "PRECHECK", log_rows)
    return passing, failing, reports


def write_raw(df: DataFrame, entry: IngestEntry, parent_run_id: str) -> int:
    """Append one RAW landing with the reference's metadata columns
    (RAW_ADLS_TO_RAW_SNOWFLAKE.py:1224-1231) and return the rows
    written — the one RAW write of both the file/query chain
    (:func:`stage_raw`) and the API chain (``api_ingest``). The count
    rides the write job via observe(): a post-write re-read of the
    target can't prune on PARENT_RUN_ID and pays a full-table scan
    per run at scale."""
    obs = Observation()
    df = (
        df.withColumn("file_load_time", F.current_timestamp())
        .withColumn("PARENT_RUN_ID", F.lit(parent_run_id))
        .withColumn("IS_NEW", F.lit(1 if entry.refined_table else 0))
        .observe(obs, F.count(F.lit(1)).alias("rows"))
    )
    write_table(df, entry.raw_table, mode="append")
    return int(obs.get["rows"])


def stage_raw(
    spark: SparkSession,
    entry: IngestEntry,
    parent_run_id: str,
    practice: str,
    files: list[FileInfo] | None = None,
) -> int:
    """RAW ingest: one distributed scan over all passing files (or the
    config query), plus the reference's metadata columns
    (RAW_ADLS_TO_RAW_SNOWFLAKE.py:1224-1231). Returns rows written."""
    started = _utcnow()
    src = entry.source
    if src.kind == "file":
        if not files:
            return 0
        df = csv_scan(
            spark, [f.path for f in files], delimiter=src.delimiter, with_file_name=True
        )
    elif src.kind == "query":
        df = query_source(spark, src.query).withColumn("file_name", F.lit(None).cast("string"))
    else:
        raise ValueError(f"stage_raw cannot ingest source kind {src.kind!r}")

    if df.isEmpty():  # zero-row short-circuit (reference :1013-1019)
        return 0
    n = write_raw(df, entry, parent_run_id)
    append_log(spark, "RAW", [log_row(
        new_run_id(), parent_run_id, practice, entry.name, "SUCCESS",
        rows_read=n, rows_written=n, started_at=started, finished_at=_utcnow(),
    )])
    return n


def stage_refined(
    spark: SparkSession,
    entry: IngestEntry,
    parent_run_id: str,
    practice: str,
) -> int:
    """REFINED: consume unprocessed RAW rows, apply the config's
    transform chain in declaration order (overwrite-in-place,
    RAW_SNOWFLAKE_TO_REFINED_SNOWFLAKE.py:409-590), force-uppercase
    column names dropping IS_NEW (:599-604), stamp IS_VALID +
    REFINED_PARENT_RUN_ID (:679-683), append, mark consumed."""
    started = _utcnow()
    raw = spark.table(entry.raw_table)
    fresh = unconsumed(spark, raw, stage=f"REFINED:{entry.raw_table}")
    if fresh.isEmpty():
        return 0

    resolver = ColumnResolver.for_df(fresh)
    for spec in _norm_transforms(entry.transforms):
        actual = resolver.resolve_or_raise(spec.column)
        fresh = fresh.withColumn(actual, spec.compile(F.col(actual)))

    # uppercase projection, dropping the consumption flag
    fresh = fresh.select(
        [F.col(c).alias(c.upper()) for c in fresh.columns if c.upper() != "IS_NEW"]
    )
    fresh = (
        fresh.withColumn("IS_VALID", F.lit(1))
        .withColumn("REFINED_PARENT_RUN_ID", F.lit(parent_run_id))
    )
    # one job: the write also carries the row count AND the distinct
    # consumed run ids (collect_set), replacing a pre-write distinct
    # collect and a post-write full-table re-scan.
    obs = Observation()
    fresh = fresh.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.collect_set("PARENT_RUN_ID").alias("run_ids"),
    )
    write_table(fresh, entry.refined_table, mode="append")
    metrics = obs.get
    mark_consumed(spark, list(metrics["run_ids"]), stage=f"REFINED:{entry.raw_table}")
    n = int(metrics["rows"])
    append_log(spark, "REFINED", [log_row(
        new_run_id(), parent_run_id, practice, entry.name,
        "SUCCESS", rows_read=n, rows_written=n,
        started_at=started, finished_at=_utcnow(),
    )])
    return n


def stage_curated(
    spark: SparkSession,
    entry: IngestEntry,
    parent_run_id: str,
    practice: str,
) -> tuple[int, dict[str, int]]:
    """CURATED: consume unprocessed REFINED rows, apply config filters
    (P7-P9), broadcast-join lookups (J1/J2), compile the column
    mapping into one projection (K3), classify NEW/UPDATE against the
    existing curated table (J1+F7), INSERT-SELECT append. Returns
    (rows, record-type distribution)."""
    started = _utcnow()
    refined = spark.table(entry.refined_table)
    src = unconsumed(spark, refined, stage=f"CURATED:{entry.refined_table}",
                     run_col="REFINED_PARENT_RUN_ID")
    src = src.filter(F.col("IS_VALID") == 1)
    if entry.source_filter:
        src = apply_source_filter(src, entry.source_filter)
    if entry.future_only_filter:
        src = future_only_filter(src, **entry.future_only_filter)
    # consumed run ids ride the curated write instead of a dedicated scan
    obs_runs = Observation()
    src = src.observe(
        obs_runs, F.collect_set("REFINED_PARENT_RUN_ID").alias("run_ids")
    )

    # lookup enrichment joins — small dimensions, broadcast by construction
    for lk in entry.lookups:
        lookup = spark.table(lk.table)
        cond = None
        for s_col, l_col in lk.keys.items():
            c = src[s_col] == lookup[l_col]
            cond = c if cond is None else (cond & c)
        keep = [lookup[l].alias(a) for l, a in lk.select.items()]
        src = src.join(F.broadcast(lookup), cond, "left").select(src["*"], *keep)

    out = apply_mappings(src, [dict(m) for m in entry.curated_mapping]) \
        if entry.curated_mapping else src

    # RECORD_TYPE: NEW vs UPDATE against existing curated keys
    # (REFINED...CURATED.py:1397-1405,1462-1474)
    sync_keys = entry.sync.get("keys") or []
    if sync_keys and table_exists(spark, entry.curated_table):
        existing = spark.table(entry.curated_table).select(*sync_keys).distinct()
        marked = out.join(
            F.broadcast(existing.withColumn("_hit", F.lit(1))), sync_keys, "left"
        ).withColumn(
            "RECORD_TYPE",
            F.when(F.col("_hit").isNotNull(), F.lit("UPDATE")).otherwise(F.lit("NEW")),
        ).drop("_hit")
    else:
        marked = out.withColumn("RECORD_TYPE", F.lit("NEW"))
    # the NEW/UPDATE tally rides the write too: a groupBy().collect()
    # would evaluate the whole curated plan a second time
    obs_types = Observation()
    marked = marked.observe(obs_types, *(
        F.count_if(F.col("RECORD_TYPE") == t).alias(t) for t in ("NEW", "UPDATE")
    ))

    n = insert_select(spark, entry.curated_table, marked)
    dist = {t: c for t, c in obs_types.get.items() if c}
    mark_consumed(spark, list(obs_runs.get["run_ids"]),
                  stage=f"CURATED:{entry.refined_table}")
    append_log(spark, "CURATED", [log_row(
        new_run_id(), parent_run_id, practice, entry.name,
        "SUCCESS", rows_read=n, rows_written=n,
        started_at=started, finished_at=_utcnow(),
    )])
    return n, dist


def archive_files(
    spark: SparkSession,
    entry: IngestEntry,
    loaded: list[FileInfo],
    rejected: list[FileInfo],
    run_id: str,
) -> None:
    """K8: move processed files to archive/, failed to error/, with
    the run id embedded in the archived name (the reference's ADF
    rename expression, archive_inbound_files.json:91). Moves run on a
    driver thread pool of ``_ARCHIVE_THREADS`` — the ADF ForEach
    ``batchCount`` analog; renames are metadata ops, so threads, not
    tasks. A move that fails raises, naming the files left in place:
    an unarchived file is re-listed and re-appended to RAW by the next
    run."""
    from concurrent.futures import ThreadPoolExecutor

    base = entry.source.directory.rstrip("/")
    jobs = [(x, "archive") for x in loaded] + [(x, "error") for x in rejected]

    def _move(job) -> bool:
        f, sub = job
        stem, dot, ext = f.name.partition(".")
        return move_file(
            spark, f.path, posixpath.join(base, sub, f"{stem}_{run_id}{dot}{ext}")
        )

    if not jobs:
        return
    with ThreadPoolExecutor(max_workers=min(_ARCHIVE_THREADS, len(jobs))) as pool:
        moved = list(pool.map(_move, jobs))
    stuck = [f.name for (f, _), ok in zip(jobs, moved) if not ok]
    if stuck:
        raise RuntimeError(f"archive move failed for: {', '.join(stuck)}")


# ------------------------------------------------------------- entrypoints


def run_entry(
    spark: SparkSession,
    practice: Practice,
    entry: IngestEntry,
    parent_run_id: str | None = None,
    archive: bool = False,
    notify: Notifier | None = None,
) -> RunReport:
    """Run the full stage chain for one ingest entry — the Spark shape
    of the reference's five-job pipeline (SURVEY §3.1). A stage that
    raises leaves one FAILED row in its ``*_ingest_log``."""
    rid = parent_run_id or new_run_id()
    rpt = RunReport(practice=practice.practice_name, entry=entry.name, parent_run_id=rid)
    stage, started = None, _utcnow()
    try:
        files: list[FileInfo] = []
        failing: list[tuple[FileInfo, PrecheckReport]] = []
        if entry.source.kind == "file":
            stage = "PRECHECK" if entry.precheck else "RAW"
            candidates = list_stage_files(
                spark, entry.source.directory, entry.source.pattern
            )
            if entry.precheck:
                files, failing, rpt.precheck = stage_precheck(
                    spark, entry, candidates, rid, practice.practice_name
                )
            else:
                files = candidates
            rpt.files_loaded = [f.name for f in files]
            rpt.files_rejected = [f.name for f, _ in failing]
            if failing and notify:
                notify("precheck_failed", {
                    "practice": practice.practice_name, "entry": entry.name,
                    "files": rpt.files_rejected, "run_id": rid,
                })

        stage, started = "RAW", _utcnow()
        rpt.rows_raw = stage_raw(spark, entry, rid, practice.practice_name, files)
        if entry.refined_table and rpt.rows_raw:
            stage, started = "REFINED", _utcnow()
            rpt.rows_refined = stage_refined(spark, entry, rid, practice.practice_name)
        if entry.curated_table and rpt.rows_refined:
            stage, started = "CURATED", _utcnow()
            rpt.rows_curated, rpt.record_type_distribution = stage_curated(
                spark, entry, rid, practice.practice_name
            )
        stage = None  # archive moves and notifications have no audit table
        if archive and entry.source.kind == "file":
            archive_files(spark, entry, files, [f for f, _ in failing], rid)
        if notify:
            notify("run_complete", {
                "practice": practice.practice_name, "entry": entry.name,
                "run_id": rid, "rows": rpt.rows_curated or rpt.rows_refined or rpt.rows_raw,
            })
    except Exception as e:  # continue-on-error policy (reference per-entry)
        rpt.status = "FAILED"
        rpt.error = clean_error_message(str(e))
        if stage:
            try:
                append_log(spark, stage, [log_row(
                    new_run_id(), rid, practice.practice_name,
                    entry.name, "FAILED", started_at=started,
                    error_message=rpt.error,
                )])
            except Exception as log_error:  # keep continue-on-error
                rpt.error += f"; audit row not written: {log_error}"[:300]
        if notify:
            notify("run_failed", {
                "practice": practice.practice_name, "entry": entry.name,
                "run_id": rid, "error": rpt.error,
            })
    return rpt


def run_practice(
    spark: SparkSession,
    config: IngestConfig,
    practice_name: str,
    entry_name: str | None = None,
    archive: bool = False,
    notify: Notifier | None = None,
    use_zones: bool = False,
) -> list[RunReport]:
    """Run every (or one named) ingest entry for a practice,
    continue-on-error per entry (the reference's daily-orchestrator
    policy, ELLKAY_DAILY_INGEST_TO_RAW_SNOWFLAKE.py:628-655).

    ``use_zones=True`` applies the medallion-zone naming convention
    (raw_zone/refined_zone/curated_zone databases) to entries whose
    table names the config leaves unset — the reference's three-
    database layout (SURVEY §1.1)."""
    practice = config.practice(practice_name)
    if not practice.active:
        return []
    entries = config.entries(practice_name, entry_name)
    if use_zones:
        from ulh_etl_spark.warehouse import apply_zone_naming, ensure_zones

        ensure_zones(spark)
        for e in entries:
            apply_zone_naming(e, practice_name)
    return [
        run_entry(spark, practice, e, archive=archive, notify=notify)
        for e in entries
    ]
