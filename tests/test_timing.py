"""The timing core in bench.py: one pass rule for bench.py and every
tool that imports it — min of N consecutive passes, each from an
empty cache, released again even when a pass raises."""

import ast
import glob
import importlib
import importlib.util
import os
import py_compile

import pytest

import bench
from ulh_etl_spark import cache
from ulh_etl_spark.cache import track

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = [os.path.join(ROOT, "bench.py")] + sorted(
    glob.glob(os.path.join(ROOT, "tools", "*.py"))
)


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_min_wall_returns_min_of_passes(spark, monkeypatch):
    clock = [0.0]
    durations = iter([0.5, 0.2, 0.9])
    calls = []

    def build():
        calls.append(1)
        clock[0] += next(durations)
        return spark.range(3)

    monkeypatch.setattr(bench.time, "perf_counter", lambda: clock[0])
    assert bench.min_wall(spark, build, passes=3) == pytest.approx(0.2)
    assert len(calls) == 3


def test_min_wall_releases_before_every_pass(spark):
    seen = []

    def build():
        # every pass starts from an empty cache: nothing an earlier
        # pass persisted (tracked or not) is still cached
        assert _cache_empty(spark)
        assert not cache._TRACKED
        tracked = track(spark.range(10).persist())
        tracked.count()
        spark.range(7).cache().count()  # untracked: clearCache's job
        seen.append(tracked)
        return tracked

    bench.min_wall(spark, build, passes=3)
    assert len(seen) == 3
    assert _cache_empty(spark)
    assert not cache._TRACKED
    assert all(not df.storageLevel.useMemory for df in seen)


def test_min_wall_releases_when_a_pass_raises(spark):
    seen = []

    def build():
        assert _cache_empty(spark)
        tracked = track(spark.range(10).persist())
        tracked.count()
        seen.append(tracked)
        if len(seen) == 2:
            raise RuntimeError("pass 2 fails")
        return tracked

    with pytest.raises(RuntimeError, match="pass 2 fails"):
        bench.min_wall(spark, build, passes=3)
    assert len(seen) == 2
    assert _cache_empty(spark)
    assert not cache._TRACKED
    assert all(not df.storageLevel.useMemory for df in seen)


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_scripts_compile_and_resolve_imports(path):
    """bench.py and every tool compile, and each name they import from
    bench or the package still exists — a deleted helper cannot leave
    a dangling import behind (the scripts run on import, so this
    resolves the names without executing them)."""
    py_compile.compile(path, doraise=True)
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (
            node.module == "bench" or (node.module or "").startswith("ulh_etl_spark")
        ):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(mod, alias.name) or importlib.util.find_spec(
                    f"{node.module}.{alias.name}"
                ), f"{os.path.basename(path)}: {node.module}.{alias.name} is gone"
