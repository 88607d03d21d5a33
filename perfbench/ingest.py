"""The ``ingest_landing`` workload: landings of one practice's files
through ``run_practice(..., archive=True, use_zones=True)``, an entity
sync of each landing's curated rows and a paginated API practice.

A landing is measured from the moment its files are visible in the
inbound directory until its curated rows are committed, the entity store
has acknowledged them and the API practice has landed its rows, in CPU
seconds (``Run.cpu_s``) and wall seconds. File generation and the output
checks run outside the measured region.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from perfbench.fakes import (
    BatchTransportFactory,
    PagedApiTransport,
    no_sleep,
    read_batch_log,
)
from perfbench.gen import (
    API_PRACTICE,
    CURATED_TABLE,
    MIRROR_TABLE,
    PRACTICE,
    Landing,
    PracticeGen,
    Shape,
    office_rows,
    practice_config,
)
from ulh_etl_spark.api_ingest import run_api_practice
from ulh_etl_spark.config import load_config
from ulh_etl_spark.pipeline import run_practice
from ulh_etl_spark.sinks.entity import (
    batch_upsert_http,
    classify_create_update,
    entity_mirror_merge,
)
from ulh_etl_spark.sinks.tables import table_exists, write_table

# one landing: four small per-practice extracts, one bulk file, a BOM-
# prefixed small file and a malformed file; half the keys already curated
SHAPE = Shape(file_rows=(200, 200, 200, 200, 2000, 200), reuse_share=0.5,
              api_pages=2, api_page_rows=200)
MIN_WARM = 2          # warm landings per run, at least
LANDING_S = 11.0      # nominal seconds of one warm landing on 4 cores
SETUPS = 3            # set-ups per run; setup_s is their median
BATCH_SIZE = 500
INFLIGHT_BATCHES = 2

# spans a traced run must fire (the self-test)
EXPECTED_SPANS = [
    "pipeline.precheck", "pipeline.raw", "pipeline.refined",
    "pipeline.curated", "pipeline.archive", "validate.precheck_file",
    "sources.files.list", "sources.files.head_lines",
    "sources.files.count_lines", "sources.files.csv_scan",
    "sources.files.move", "sinks.logs.append", "state.mark_consumed",
    "sinks.tables.write", "sinks.tables.insert_select",
    "sinks.entity.classify", "sinks.entity.batch_upsert",
    "sinks.entity.mirror_merge", "api_ingest.run", "sources.http.call",
]


def sync_landing(spark, run_id: str, log_path: str, seed: int):
    """Upsert one landing's curated rows into the entity store (fake
    ``$batch`` transport) and its local mirror."""
    rows = (
        spark.table(CURATED_TABLE)
        .filter(F.col("REFINED_PARENT_RUN_ID") == run_id)
        .select("MBI", "FULLNAME", "APPT_TS", "OFFICE")
    )
    if table_exists(spark, MIRROR_TABLE):
        key_map = spark.table(MIRROR_TABLE).select("MBI", "guid")
    else:
        key_map = spark.createDataFrame([], "MBI string, guid string")
    ops = classify_create_update(rows, key_map, ["MBI"], guid_col="guid")
    res = batch_upsert_http(
        ops, batch_url="fake://entity/$batch", entity_set="cr063_appointments",
        alternate_key=["MBI"], transport_factory=BatchTransportFactory(log_path, seed),
        batch_size=BATCH_SIZE, max_inflight_batches=INFLIGHT_BATCHES,
        retries=1, sleeper=no_sleep,
    )
    mirror = ops.select(
        "MBI", "FULLNAME", "APPT_TS", "OFFICE",
        F.coalesce(F.col("_guid"), F.sha2(F.col("MBI"), 256)).alias("guid"),
    )
    stats = entity_mirror_merge(spark, MIRROR_TABLE, mirror, ["MBI"])
    return res, stats


def check_landing(spark, gen: PracticeGen, lnd: Landing, inbound: str, rpt,
                  synced, api_rpt, log_path: str) -> tuple[int, int, list[str]]:
    """Compare one landing's outputs with the model; returns
    (attempted, failed, problems)."""
    problems: list[str] = []
    tag = f"landing {lnd.index}"
    ops = len(lnd.curated)
    attempted, failed = 1 + ops, 0

    # --- pipeline run
    want = {
        "status": "SUCCESS", "files_loaded": lnd.loaded,
        "files_rejected": lnd.rejected, "rows_raw": lnd.raw_rows,
        "rows_refined": lnd.raw_rows, "rows_curated": ops,
        "record_type_distribution": lnd.record_types,
    }
    for k, v in want.items():
        if getattr(rpt, k) != v:
            problems.append(f"{tag}: {k} {getattr(rpt, k)!r} != {v!r} {rpt.error}")
    got = {
        r.MBI: ((r.FULLNAME, r.APPT_TS, r.OFFICE), r.RECORD_TYPE)
        for r in spark.table(CURATED_TABLE)
        .filter(F.col("REFINED_PARENT_RUN_ID") == rpt.parent_run_id)
        .select("MBI", "FULLNAME", "APPT_TS", "OFFICE", "RECORD_TYPE")
        .collect()
    }
    expect = {
        k: (v, "UPDATE" if k in gen.curated_keys else "NEW")
        for k, v in lnd.curated.items()
    }
    if got != expect:
        bad = sorted(set(got.items()) ^ set(expect.items()))[:2]
        problems.append(f"{tag}: curated rows differ, e.g. {bad}")
    archived = [n for n in os.listdir(os.path.join(inbound, "archive"))
                if rpt.parent_run_id in n]
    errored = ([n for n in os.listdir(os.path.join(inbound, "error"))
                if rpt.parent_run_id in n] if lnd.rejected else [])
    left = [n for n in os.listdir(inbound) if n.endswith(".csv")]
    if (len(archived), len(errored), left) != (len(lnd.loaded), len(lnd.rejected), []):
        problems.append(f"{tag}: archive {len(archived)}/{len(errored)} left {left}")
    if problems:
        failed += 1

    # --- entity sync
    entity_problems = []
    if synced is None:
        entity_problems.append(f"{tag}: entity sync did not run")
    else:
        res, stats = synced
        log = read_batch_log(log_path)
        mirror_rows = len(gen.curated_keys | set(lnd.curated))
        checks = {
            "succeeded": (res.succeeded, ops), "failed": (res.failed, 0),
            "acked": (log["acked"], ops), "batches": (res.batches, log["batches"]),
            "retried": (res.retried, log["throttles"]),
            "inserted": (stats["inserted"], lnd.new),
            "updated": (stats["updated"], lnd.update),
            "mirror_rows": (spark.table(MIRROR_TABLE).count(), mirror_rows),
        }
        entity_problems += [f"{tag}: entity {k} {a} != {b}"
                            for k, (a, b) in checks.items() if a != b]
    if entity_problems:
        failed += ops if synced is None else max(synced[0].failed, ops)
        problems += entity_problems
    elif synced is not None:
        failed += synced[0].failed

    # --- API practice
    if lnd.api_pages:
        attempted += 1
        eps = api_rpt.endpoints if api_rpt else []
        if [(e.status, e.rows) for e in eps] != [("SUCCESS", lnd.api_rows)]:
            failed += 1
            problems.append(f"{tag}: api endpoints {eps} != {lnd.api_rows} rows")
    return attempted, failed, problems


def run(ctx):
    inbound = os.path.join(ctx.run_dir, "inbound")
    state: dict = {}

    def prepare(spark):
        gen = PracticeGen(ctx.seed, SHAPE)
        state.update(gen=gen, first=gen.landing(0, inbound),
                     cfg=load_config(practice_config(inbound)))
        office = spark.createDataFrame(
            office_rows(), "emr_location string, assigned_office string"
        )
        write_table(office, "office_mappings", mode="overwrite")

    if ctx.trace:
        ctx.tracer.install()
    ctx.setup(prepare, SETUPS)
    spark, gen, cfg = ctx.spark, state["gen"], state["cfg"]

    def land(lnd: Landing, traced: bool):
        log_path = os.path.join(ctx.run_dir, f"batch_{lnd.index}.log")
        api = PagedApiTransport(lnd.api_pages)
        tracer = ctx.tracer
        tracer.reset()
        tracer.enabled = traced
        root = tracer.begin("landing")
        c0 = ctx.cpu_s()
        t0 = time.perf_counter()
        rpt = run_practice(spark, cfg, PRACTICE, archive=True, use_zones=True)[0]
        synced = None
        if rpt.status == "SUCCESS" and rpt.rows_curated:
            synced = sync_landing(spark, rpt.parent_run_id, log_path, ctx.seed)
        api_rpt = None
        if lnd.api_pages:
            api_rpt = run_api_practice(spark, cfg.practice(API_PRACTICE), api)
        wall = time.perf_counter() - t0
        cpu = ctx.cpu_s() - c0
        tracer.end(root)
        tracer.enabled = False
        ctx.tally(*check_landing(spark, gen, lnd, inbound, rpt, synced,
                                 api_rpt, log_path))
        gen.commit(lnd)
        layer = None
        if traced:
            layer = tracer.summary(root)
            layer["_fired"] = {sp.name for sp in tracer.spans}
            if synced is not None:
                res = synced[0]
                layer.update({
                    "sinks.entity.batches": res.batches,
                    "sinks.entity.ops": res.succeeded + res.failed,
                    "sinks.entity.retried": res.retried,
                    "sinks.entity.ok_ratio":
                        res.succeeded / max(res.succeeded + res.failed, 1),
                })
            if api_rpt is not None:
                layer["api_ingest.rows"] = sum(e.rows for e in api_rpt.endpoints)
        return wall, cpu, lnd.raw_rows + lnd.api_rows, layer

    cold_s, cold_cpu, _, _ = land(state["first"], traced=False)
    ctx.phase("cold")
    walls: list[float] = []
    cpus: list[float] = []
    layers: list[dict] = []
    rows = 0
    for i in range(1, ctx.warm_items(LANDING_S, MIN_WARM) + 1):
        traced = ctx.trace and i % 2 == 0
        wall, cpu, n, layer = land(gen.landing(i, inbound), traced)
        if traced:
            layers.append(layer)
        else:
            walls.append(wall)
            cpus.append(cpu)
            rows += n

    ctx.phase("warm")
    ctx.note("landings wall " + " ".join(f"{w:.3f}" for w in [cold_s] + walls)
             + " cpu " + " ".join(f"{c:.2f}" for c in [cold_cpu] + cpus))
    end_to_end = {
        "cold_cpu_s": cold_cpu,
        "cpu_s": statistics.median(cpus),
        "rows_per_cpu_s": rows / sum(cpus),
        "peak_rss_mb": ctx.peak_rss_mb(),
    }
    per_layer = {}
    if ctx.trace:
        per_layer = layer_metrics(ctx, layers, SHAPE.files)
        per_layer["wall.cold_s"] = cold_s
        per_layer["wall.warm_s"] = statistics.median(walls)
        fired = set().union(*(lay["_fired"] for lay in layers))
        missing = [s for s in EXPECTED_SPANS if s not in fired]
        if missing:
            ctx.tally(0, 1, [f"self-test: spans never fired: {missing}"])
    return end_to_end, per_layer


def layer_metrics(ctx, layers: list[dict], files_per_landing: int) -> dict:
    """Per-layer metrics: the mean over traced warm landings of each
    span total, plus run-level state counts."""

    def mean(key: str) -> float:
        return statistics.fmean(lay.get(key, 0.0) for lay in layers)

    out = {
        "session.build_s": statistics.median(ctx.build_times),
        "pipeline.archive.s": mean("pipeline.archive.s"),
        "spark.jobs": mean("root.jobs"),
        "spark.tasks": mean("root.tasks"),
        "ingest.jobs_per_file": mean("root.jobs") / files_per_landing,
        "trace.unattributed_s": mean("root.unattributed_s"),
        "trace.overhead_s": mean("root.overhead_s"),
        "sources.files.jobs": sum(
            mean(f"sources.files.{k}.jobs")
            for k in ("list", "head_lines", "head_bytes", "count_lines",
                      "csv_scan", "move")
        ),
        "sources.http.calls": mean("sources.http.call.calls"),
    }
    for stage in ("precheck", "raw", "refined", "curated"):
        out[f"pipeline.{stage}.self_s"] = mean(f"pipeline.{stage}.self_s")
    for name in ("validate.precheck_file", "sinks.logs.append"):
        for k in ("s", "calls", "jobs"):
            out[f"{name}.{k}"] = mean(f"{name}.{k}")
    for k in ("list", "head_lines", "count_lines", "csv_scan", "move"):
        out[f"sources.files.{k}.s"] = mean(f"sources.files.{k}.s")
    out["state.mark_consumed.s"] = mean("state.mark_consumed.s")
    out["state.mark_consumed.calls"] = mean("state.mark_consumed.calls")
    for k in ("write", "insert_select"):
        out[f"sinks.tables.{k}.s"] = mean(f"sinks.tables.{k}.s")
        out[f"sinks.tables.{k}.jobs"] = mean(f"sinks.tables.{k}.jobs")
    for k in ("classify", "batch_upsert", "mirror_merge"):
        out[f"sinks.entity.{k}.s"] = mean(f"sinks.entity.{k}.s")
    for k in ("batches", "ops", "retried", "ok_ratio"):
        out[f"sinks.entity.{k}"] = mean(f"sinks.entity.{k}")
    out["api_ingest.run.s"] = mean("api_ingest.run.s")
    out["api_ingest.rows"] = mean("api_ingest.rows")

    spark = ctx.spark
    warehouse = os.path.join(ctx.run_dir, "spark-warehouse")
    out["sinks.logs.files"] = sum(
        1
        for d in os.listdir(warehouse) if d.endswith("_ingest_log")
        for f in os.listdir(os.path.join(warehouse, d)) if f.startswith("part-")
    )
    out["state.watermark_rows"] = spark.table("_processed_runs").count()
    return out
