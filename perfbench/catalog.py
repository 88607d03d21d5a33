"""The ``catalog_slice`` workload: a fixed list of catalog queries over
the sf0.01 tables in ``perfbench/data`` (copies of the fixed,
seed-independent test tables; ``--seed`` does not change them).

The first pass in a fresh session is the cold one; it collects every
result to the driver, and after the pass each result is compared with
the query's DuckDB ``oracle_sql()`` using the normalizer of
``tools/check_oracle.py``. A fixed number of warm passes follows (about
``--seconds`` of them), each query forced through a ``noop`` sink.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time

from ulh_etl_spark.cache import release_persisted
from ulh_etl_spark.queries import all_oracles, all_queries
from ulh_etl_spark.session import load_tables

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
SLICE = (
    # head of the suite: NN-Descent
    "q201_nn_descent_plateau",
    # execution-heavy
    "q36_minhash_pairs",
    "q94_duplicate_gram_fraction",
    # bound by the fixed per-query floor
    "q03_record_type_classify",
    "q34_dedup_exact",
    "q51_event_sessionize",
    "q128_event_transitions",
    "q139_event_type_anomalies",
)
HEAD = {"q201_nn_descent_plateau": "q201"}
MIN_WARM = 2
PASS_S = 6.5  # nominal seconds of one warm pass on 4 cores
SETUPS = 3    # set-ups per run; setup_s is their median


def _normalizer():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._norm_rows


def run_pass(ctx, queries, traced: bool = False, results: dict | None = None):
    """One pass over the slice; returns (wall seconds, CPU seconds, root
    span). With ``results`` the pass collects each result there instead
    of writing it to the ``noop`` sink."""
    spark, tracer = ctx.spark, ctx.tracer
    tracer.reset()
    tracer.enabled = traced
    root = tracer.begin("pass")
    c0 = ctx.cpu_s()
    t0 = time.perf_counter()
    for name in SLICE:
        try:
            with tracer.span(f"queries.construct:{name}"):
                df = queries[name](spark, DATA)
            if traced:
                with tracer.span(f"queries.plan:{name}"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span(f"queries.exec:{name}"):
                if results is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    results[name] = df.toPandas()
        except Exception as ex:  # a failing query is counted, the pass goes on
            ctx.tally(1, 1, [f"{name}: {str(ex).splitlines()[0][:200]}"])
        else:
            ctx.tally(1, 0, [])
        finally:
            release_persisted()
            spark.catalog.clearCache()
    wall = time.perf_counter() - t0
    cpu = ctx.cpu_s() - c0
    tracer.end(root)
    tracer.enabled = False
    return wall, cpu, root


def check_results(ctx, results: dict) -> int:
    """Compare each collected result with its DuckDB oracle; returns
    the number of result rows."""
    import duckdb

    norm = _normalizer()
    oracles = all_oracles()
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(ctx.run_dir, 'tmp', 'duckdb')}'")
    for f in sorted(os.listdir(DATA)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(DATA, f)}')")
    rows = 0
    try:
        for name, sdf in results.items():
            odf = con.execute(oracles[name]).fetchdf()
            rows += len(sdf)
            same_cols = sorted(map(str.lower, sdf.columns)) == sorted(map(str.lower, odf.columns))
            if len(sdf) != len(odf) or not same_cols or norm(sdf) != norm(odf):
                # the query already counted as attempted in the pass
                ctx.tally(0, 1, [f"{name}: result differs from its oracle"])
    finally:
        con.close()
    return rows


def run(ctx):
    if ctx.trace:
        ctx.tracer.install()
    ctx.setup(lambda spark: load_tables(spark, DATA), SETUPS)
    queries = all_queries()
    results: dict = {}
    cold_s, cold_cpu, _ = run_pass(ctx, queries, results=results)
    ctx.phase("cold")
    rows = check_results(ctx, results)
    ctx.phase("check")
    walls: list[float] = []
    cpus: list[float] = []
    summaries: list[dict] = []
    for i in range(1, ctx.warm_items(PASS_S, MIN_WARM) + 1):
        wall, cpu, root = run_pass(ctx, queries, traced=ctx.trace and i % 2 == 0)
        if root is None:
            walls.append(wall)
            cpus.append(cpu)
        else:
            summaries.append(ctx.tracer.summary(root))
    ctx.phase("warm")
    ctx.note("passes wall " + " ".join(f"{w:.3f}" for w in [cold_s] + walls)
             + " cpu " + " ".join(f"{c:.2f}" for c in [cold_cpu] + cpus))
    cpu_s = statistics.median(cpus)
    end_to_end = {
        "cold_cpu_s": cold_cpu,
        "cpu_s": cpu_s,
        "rows_per_cpu_s": rows / cpu_s,
        "peak_rss_mb": ctx.peak_rss_mb(),
    }
    per_layer = {}
    if ctx.trace:
        per_layer = layer_metrics(ctx, summaries)
        per_layer["wall.cold_s"] = cold_s
        per_layer["wall.warm_s"] = statistics.median(walls)
    return end_to_end, per_layer


def layer_metrics(ctx, summaries: list[dict]) -> dict:
    """Mean over traced passes of the per-query construct / plan / exec
    spans, summed over the slice."""

    def mean_of(pick) -> float:
        return statistics.fmean(
            sum(v for k, v in s.items() if pick(k)) for s in summaries
        )

    out = {
        "session.build_s": statistics.median(ctx.build_times),
        "spark.jobs": mean_of(lambda k: k == "root.jobs"),
        "spark.tasks": mean_of(lambda k: k == "root.tasks"),
        "queries.tasks": mean_of(lambda k: k == "root.tasks"),
        "trace.unattributed_s": mean_of(lambda k: k == "root.unattributed_s"),
        "trace.overhead_s": mean_of(lambda k: k == "root.overhead_s"),
    }
    for phase in ("construct", "plan", "exec"):
        out[f"queries.{phase}_s"] = mean_of(
            lambda k: k.startswith(f"queries.{phase}:") and k.endswith(".s")
            and not k.endswith(".self_s")
        )
    for phase in ("construct", "exec"):
        out[f"queries.{phase}_jobs"] = mean_of(
            lambda k: k.startswith(f"queries.{phase}:") and k.endswith(".jobs")
        )
        for name, short in HEAD.items():
            out[f"{short}.{phase}_s"] = mean_of(
                lambda k: k == f"queries.{phase}:{name}.s"
            )
    return out
