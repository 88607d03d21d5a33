"""A/B probe: does spreading the single-split table scans across
cores speed a query up?  Pass A = stock load_table; pass B = same
query with load_table monkeypatched to repartition(defaultParallelism)
right after the read.  Both passes run in ONE session (min-of-N each,
warmup first) so codegen/JIT state is comparable.  This is a probe
tool only — the fix itself lands as operators.fanout.fan_out calls in
the query/operator code, which no-op at real scale.

Usage: python tools/probe_fanout.py [--passes N] <query> [...]
"""
from __future__ import annotations

import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import min_wall, noop_write, release, use_shm_local_dir
from ulh_etl_spark import session as S
from ulh_etl_spark.queries import all_queries
from ulh_etl_spark.session import get_spark

args = sys.argv[1:]
passes = 3
if args and args[0] == "--passes":
    passes = int(args[1])
    args = args[2:]

use_shm_local_dir()
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("probe-fanout")
qs = all_queries()

_orig = S.load_table
_spread = {"on": False}


def _patched(spark, sf_dir, name):
    df = _orig(spark, sf_dir, name)
    if _spread["on"]:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


# every query module did `from ulh_etl_spark.session import load_table`
# at module top — patch each module's bound name
import ulh_etl_spark.queries as QP
import importlib, pkgutil

for m in pkgutil.iter_modules(QP.__path__):
    mod = importlib.import_module(f"ulh_etl_spark.queries.{m.name}")
    if hasattr(mod, "load_table"):
        mod.load_table = _patched


print(f"{'query':42s} {'stock':>8s} {'spread':>8s} {'ratio':>6s}")
for name in args:
    build = partial(qs[name], spark, sf_dir)
    # warmup both shapes
    for on in (False, True):
        _spread["on"] = on
        noop_write(build())
        release(spark)
    _spread["on"] = False
    a = min_wall(spark, build, passes)
    _spread["on"] = True
    b = min_wall(spark, build, passes)
    _spread["on"] = False
    print(f"{name:42s} {a:8.3f} {b:8.3f} {b/a:6.2f}", flush=True)
