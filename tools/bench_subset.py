"""Dedicated min-of-N noop-sink timing for a subset of catalog
queries — the adjudication harness for optimization work. It times
with bench.py's own core (``min_wall``: consecutive passes, each from
an empty cache, /dev/shm shuffle dirs) after one warm-up pass per
query, without dragging the whole 169-query suite along.

Usage: python tools/bench_subset.py [--passes N] <query> [...]
"""
from __future__ import annotations

import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import min_wall, noop_write, use_shm_local_dir
from ulh_etl_spark.queries import all_queries
from ulh_etl_spark.session import get_spark

args = sys.argv[1:]
passes = 3
if args and args[0] == "--passes":
    passes = int(args[1])
    args = args[2:]

use_shm_local_dir()
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("bench-subset")
qs = all_queries()

for name in args:
    build = partial(qs[name], spark, sf_dir)
    spark.sparkContext.setJobDescription(f"warmup {name}")
    noop_write(build())
    spark.sparkContext.setJobDescription(name)
    best = min_wall(spark, build, passes)
    print(f"{name:42s} {best:7.3f}s", flush=True)
