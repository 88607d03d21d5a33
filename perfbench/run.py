#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see ``BENCHMARK.json``):

- ``ingest_landing``: landings of several small per-practice CSV files,
  one bulk file, one BOM-prefixed and one malformed file (about half of
  the keys already curated) through ``run_practice(..., archive=True,
  use_zones=True)``; an entity sync of each landing's curated rows
  through ``classify_create_update`` -> ``batch_upsert_http`` ->
  ``entity_mirror_merge``; and one token-paginated API practice through
  ``run_api_practice``;
- ``catalog_slice``: a fixed list of catalog queries over the sf0.01
  tables in ``perfbench/data``, each forced through a ``noop`` sink.

Every run is isolated: a fresh working directory (hence warehouse) under
``.perfbench_runs/`` in the checkout, removed at exit; Spark's local dir,
temp dir, cores (``nproc``) and driver memory fixed; ``PYTHONPATH``
exported so Spark's Python workers import the package. The settings are
printed as a JSON line before the result line.

Each run measures a cold landing or pass and then a fixed number of warm
ones (``Run.warm_items``). Their time is counted in CPU seconds of the
driver JVM, its Python workers and this process (``Run.cpu_s``): on a
4-vCPU VM whose host steals CPU in episodes of minutes, wall times of
the same code moved by half between runs, while stolen time is charged
to no process. The traced run reports the wall times.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the
public functions of each layer in spans (``perfbench/trace.py``) on
every second warm landing or pass, and prints the per-layer metrics.
Every output is checked against the workload's model or oracle; a
mismatch counts as a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_MEMORY = "2g"

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "cold_cpu_s": "s",
    "cpu_s": "s",
    "rows_per_cpu_s": "rows/s",
    "peak_rss_mb": "MB",
    "success_rate": "ratio",
}

PER_LAYER = {
    "session.build_s": "s",
    "pipeline.precheck.self_s": "s",
    "pipeline.raw.self_s": "s",
    "pipeline.refined.self_s": "s",
    "pipeline.curated.self_s": "s",
    "pipeline.archive.s": "s",
    "validate.precheck_file.s": "s",
    "validate.precheck_file.calls": "count",
    "validate.precheck_file.jobs": "count",
    "sources.files.list.s": "s",
    "sources.files.head_lines.s": "s",
    "sources.files.count_lines.s": "s",
    "sources.files.csv_scan.s": "s",
    "sources.files.move.s": "s",
    "sources.files.jobs": "count",
    "sinks.logs.append.s": "s",
    "sinks.logs.append.calls": "count",
    "sinks.logs.append.jobs": "count",
    "sinks.logs.files": "count",
    "state.mark_consumed.s": "s",
    "state.mark_consumed.calls": "count",
    "state.watermark_rows": "count",
    "sinks.tables.write.s": "s",
    "sinks.tables.write.jobs": "count",
    "sinks.tables.insert_select.s": "s",
    "sinks.tables.insert_select.jobs": "count",
    "sinks.entity.classify.s": "s",
    "sinks.entity.batch_upsert.s": "s",
    "sinks.entity.mirror_merge.s": "s",
    "sinks.entity.batches": "count",
    "sinks.entity.ops": "count",
    "sinks.entity.retried": "count",
    "sinks.entity.ok_ratio": "ratio",
    "api_ingest.run.s": "s",
    "api_ingest.rows": "count",
    "sources.http.calls": "count",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.exec_s": "s",
    "queries.exec_jobs": "count",
    "queries.plan_s": "s",
    "queries.tasks": "count",
    "q201.construct_s": "s",
    "q201.exec_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "ingest.jobs_per_file": "count",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
    "wall.cold_s": "s",
    "wall.warm_s": "s",
}


class Run:
    """One benchmark run: isolation, the Spark session's lifetime,
    set-up timing, the tracer and the failure tally."""

    def __init__(self, args, run_dir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.spark = None
        self.jvm = None  # the gateway's java process
        self.setup_times: list[float] = []
        self.build_times: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.t_start = time.perf_counter()
        self.phases: list[tuple[str, float]] = []
        self.notes: list[str] = []
        from perfbench.trace import Tracer

        self.tracer = Tracer()

    # -------------------------------------------------------- lifetime

    def setup(self, prepare, times: int) -> None:
        """Build the session and run ``prepare(spark)`` (input
        generation and seeding) ``times`` times, each into a wiped
        working directory; keep the last session. setup_s is the median
        of their CPU seconds; the first build also launches the JVM."""
        from ulh_etl_spark import session

        for _ in range(times):
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
            for d in os.listdir(self.run_dir):
                if d not in ("local", "tmp"):
                    shutil.rmtree(os.path.join(self.run_dir, d))
            self.tracer.enabled = self.trace
            c0 = self.cpu_s()
            t0 = time.perf_counter()
            self.spark = session.get_spark("perfbench")
            t1 = time.perf_counter()
            self.tracer.enabled = False
            if self.jvm is None:
                self.jvm = self.spark.sparkContext._gateway.proc
            prepare(self.spark)
            self.setup_times.append(self.cpu_s() - c0)
            self.build_times.append(t1 - t0)
        self.phase("setup")

    def warm_items(self, item_s: float, least: int) -> int:
        """How many warm landings or passes a run measures: ``--seconds``
        worth at ``item_s`` nominal seconds each, at least ``least``. The
        count is fixed rather than timed so that every run reports the
        same point of the JVM's warm-up."""
        return max(least, round(self.seconds / item_s))

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver JVM plus the Python driver."""
        jvm_kb = 0
        with open(f"/proc/{self.jvm.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the driver JVM and
        the JVM's descendants (Spark's Python workers)."""
        tick = os.sysconf("SC_CLK_TCK")
        stats: dict[int, tuple[int, float]] = {}  # pid -> (ppid, seconds)
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields after the command: state ppid ... utime stime cutime cstime
            stats[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]) / tick)
        tree = [self.jvm.pid] if self.jvm is not None else []
        total = 0.0
        while tree:
            pid = tree.pop()
            total += stats.get(pid, (0, 0.0))[1]
            tree.extend(p for p, (ppid, _) in stats.items() if ppid == pid)
        own = os.times()
        return total + own.user + own.system

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
        if self.jvm is not None:
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except Exception:
                self.jvm.kill()
                self.jvm.wait()

    def phase(self, name: str) -> None:
        """Mark the end of a run phase (reported on stderr)."""
        self.phases.append((name, time.perf_counter() - self.t_start))

    def note(self, text: str) -> None:
        """A diagnostic line for stderr."""
        self.notes.append(text)

    # --------------------------------------------------------- tallies

    def tally(self, attempted: int, failed: int, problems: list[str]) -> None:
        self.attempted += attempted
        self.failed += failed
        self.problems.extend(problems)

    def result(self, end_to_end: dict, per_layer: dict) -> dict:
        if self.trace:
            metrics = {k: {"value": float(per_layer.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            e2e = dict(end_to_end)
            e2e["setup_s"] = statistics.median(self.setup_times)
            e2e["success_rate"] = 1.0 - self.failed / max(self.attempted, 1)
            metrics = {k: {"value": float(e2e[k]), "unit": u}
                       for k, u in END_TO_END.items()}
        return {"correct": self.failed == 0, "attempted": max(self.attempted, 1),
                "failed": self.failed, "metrics": metrics}


def isolate(run_dir: str) -> dict:
    """Fresh run directory, pinned Spark settings; returns them."""
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    cores = str(len(os.sched_getaffinity(0)))
    settings = {
        "SPARK_GRAFT_CPUS": cores,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        # every JVM keeps its temp files in the run directory; the
        # driver's heap is committed and touched up front, so its peak
        # RSS does not depend on how far the heap grew
        "JAVA_TOOL_OPTIONS": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
        ),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch' pyspark-shell"
        ),
    }
    os.environ.update(settings)
    for var in ("SPARK_GRAFT_CHECKPOINT_DIR", "SPARK_GRAFT_SF_DIR",
                "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET"):
        os.environ.pop(var, None)
    os.chdir(run_dir)
    settings.update({"cwd": run_dir, "warehouse": os.path.join(run_dir, "spark-warehouse"),
                     "master": f"local[{cores}]"})
    return settings


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest_landing", "catalog_slice"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ulh_etl_spark")):
        print("perfbench: the ulh_etl_spark package is not next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-s{args.seed}-p{os.getpid()}")
    settings = isolate(run_dir)
    settings.update(workload=args.workload, seed=args.seed,
                    seconds=args.seconds, trace=args.trace)
    if args.workload == "catalog_slice":
        from perfbench import catalog as workload
    else:
        from perfbench import ingest as workload
    run = Run(args, run_dir)
    try:
        end_to_end, per_layer = workload.run(run)
        result = run.result(end_to_end, per_layer)
    finally:
        run.shutdown()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    run.phase("shutdown")
    print("perfbench: phases " + " ".join(f"{n}@{t:.1f}s" for n, t in run.phases),
          file=sys.stderr)
    for p in run.notes + run.problems[:20]:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({"settings": settings}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
