"""Span tracer for the traced benchmark run.

Spans are recorded from outside the program: ``Tracer.install`` wraps
public functions of ``ulh_etl_spark`` layers and replaces the function
object in EVERY loaded module that bound it by name. ``pipeline.py``
does ``from ulh_etl_spark.sinks.logs import append_log`` and the like,
so patching only the defining module would record nothing.

Each span keeps its parent (the innermost open span of its thread; a
span opened on a helper thread hangs under the main thread's innermost
open span) and the Spark job and task counts around it, read from the
driver's scheduler and status store.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time
from dataclasses import dataclass

# (module, function) -> span name
TARGETS = {
    ("ulh_etl_spark.session", "get_spark"): "session.build",
    ("ulh_etl_spark.pipeline", "stage_precheck"): "pipeline.precheck",
    ("ulh_etl_spark.pipeline", "stage_raw"): "pipeline.raw",
    ("ulh_etl_spark.pipeline", "stage_refined"): "pipeline.refined",
    ("ulh_etl_spark.pipeline", "stage_curated"): "pipeline.curated",
    ("ulh_etl_spark.pipeline", "archive_files"): "pipeline.archive",
    ("ulh_etl_spark.warehouse", "ensure_zones"): "warehouse.ensure_zones",
    ("ulh_etl_spark.validate", "precheck_file"): "validate.precheck_file",
    ("ulh_etl_spark.sources.files", "list_stage_files"): "sources.files.list",
    ("ulh_etl_spark.sources.files", "head_lines"): "sources.files.head_lines",
    ("ulh_etl_spark.sources.files", "head_bytes"): "sources.files.head_bytes",
    ("ulh_etl_spark.sources.files", "count_lines"): "sources.files.count_lines",
    ("ulh_etl_spark.sources.files", "csv_scan"): "sources.files.csv_scan",
    ("ulh_etl_spark.sources.files", "move_file"): "sources.files.move",
    ("ulh_etl_spark.sinks.logs", "append_log"): "sinks.logs.append",
    ("ulh_etl_spark.state", "unconsumed"): "state.unconsumed",
    ("ulh_etl_spark.state", "mark_consumed"): "state.mark_consumed",
    ("ulh_etl_spark.sinks.tables", "write_table"): "sinks.tables.write",
    ("ulh_etl_spark.sinks.tables", "insert_select"): "sinks.tables.insert_select",
    ("ulh_etl_spark.sinks.entity", "classify_create_update"): "sinks.entity.classify",
    ("ulh_etl_spark.sinks.entity", "batch_upsert_http"): "sinks.entity.batch_upsert",
    ("ulh_etl_spark.sinks.entity", "entity_mirror_merge"): "sinks.entity.mirror_merge",
    ("ulh_etl_spark.api_ingest", "run_api_practice"): "api_ingest.run",
    ("ulh_etl_spark.sources.http", "retry_call"): "sources.http.call",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    jobs: int
    tasks: int


def spark_counters() -> tuple[int, int]:
    """(jobs submitted, tasks finished) so far in the active
    SparkContext, or (0, 0) when there is none."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return 0, 0
    ssc = sc._jsc.sc()
    execs = ssc.statusStore().executorList(True)
    tasks = sum(execs.apply(i).totalTasks() for i in range(execs.size()))
    return int(ssc.dagScheduler().nextJobId()), int(tasks)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.overhead = 0.0  # seconds spent recording spans since reset()
        self.enabled = False
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.main_thread().ident

    # ------------------------------------------------------------ record

    def _parent(self) -> int | None:
        me = threading.get_ident()
        stack = self._stacks.get(me) or (
            self._stacks.get(self._main) if me != self._main else None
        )
        return stack[-1] if stack else None

    def begin(self, name: str) -> int | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        jobs, tasks = spark_counters()
        with self._lock:
            idx = len(self.spans)
            t = time.perf_counter()
            self.spans.append(Span(name, t, 0.0, self._parent(), jobs, tasks))
            self._stacks.setdefault(threading.get_ident(), []).append(idx)
            self.overhead += t - t0
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        t = time.perf_counter()
        jobs, tasks = spark_counters()
        with self._lock:
            sp = self.spans[idx]
            sp.end, sp.jobs, sp.tasks = t, jobs - sp.jobs, tasks - sp.tasks
            self._stacks[threading.get_ident()].pop()
            self.overhead += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def reset(self) -> None:
        with self._lock:
            self.spans = []
            self._stacks = {}
            self.overhead = 0.0

    # ------------------------------------------------------------- patch

    def install(self) -> None:
        import importlib

        for (modname, attr), name in TARGETS.items():
            original = getattr(importlib.import_module(modname), attr)
            wrapper = self._wrap(name, original)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith(("ulh_etl_spark", "perfbench")):
                    continue
                if getattr(mod, attr, None) is original:
                    setattr(mod, attr, wrapper)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # --------------------------------------------------------- aggregate

    def children(self) -> dict[int | None, list[int]]:
        out: dict[int | None, list[int]] = {}
        for i, sp in enumerate(self.spans):
            out.setdefault(sp.parent, []).append(i)
        return out

    def summary(self, root: int) -> dict[str, float]:
        """Per-name totals over the spans under ``root`` (inclusive
        seconds, self seconds, calls, jobs), plus the root's own
        totals, the part of its time no child span covers and the time
        spent recording spans."""
        kids = self.children()
        out: dict[str, float] = {}
        todo = list(kids.get(root, []))
        while todo:
            i = todo.pop()
            sp = self.spans[i]
            mine = kids.get(i, [])
            todo.extend(mine)
            covered = union_length(
                [(self.spans[c].start, self.spans[c].end) for c in mine]
            )
            dur = sp.end - sp.start
            for key, val in ((".s", dur), (".self_s", dur - covered),
                             (".calls", 1), (".jobs", sp.jobs),
                             (".tasks", sp.tasks)):
                out[sp.name + key] = out.get(sp.name + key, 0) + val
        r = self.spans[root]
        direct = kids.get(root, [])
        out["root.s"] = r.end - r.start
        out["root.jobs"] = r.jobs
        out["root.tasks"] = r.tasks
        out["root.unattributed_s"] = out["root.s"] - union_length(
            [(self.spans[c].start, self.spans[c].end) for c in direct]
        )
        out["root.overhead_s"] = self.overhead
        return out
