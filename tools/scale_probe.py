"""Measure sf0.1 -> sf1 scaling exponents for the heavy-tail queries.

For each probed query: warm pass + min-of-2 timed runs at sf0.1, one
timed run at the 10x .scaledata/sf1 set (tools/gen_scale.py), then
exponent = log10(t_sf1 / t_sf0.1). ~1.0 is linear; anything
materially above gets a named cause or a fix (VERDICT r7 #6).

Usage: python tools/scale_probe.py [query ...]   (default: the 10
most expensive from the r7 bench)

Env overrides for other decades: SCALE_FROM / SCALE_TO point at the
two datasets, SCALE_LABEL suffixes the SCALE_PROBE.json key — e.g.
  SCALE_FROM=.scaledata/sf1 \
  SCALE_TO=.scaledata/sf10 SCALE_LABEL=@sf10 \
  python tools/scale_probe.py q102_neardup_collapse
records "q102_neardup_collapse@sf10" with the sf1 -> sf10 exponent.
"""

from __future__ import annotations

import json
import math
import os
import sys
from functools import partial

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import min_wall, noop_write  # noqa: E402
from ulh_etl_spark.queries import all_queries  # noqa: E402
from ulh_etl_spark.session import get_spark  # noqa: E402

SF01 = os.environ.get("SCALE_FROM", "/root/testdata/sf0.1")
SF1 = os.environ.get("SCALE_TO", os.path.join(ROOT, ".scaledata", "sf1"))
LABEL = os.environ.get("SCALE_LABEL", "")
PROBE_JSON = os.path.join(ROOT, "SCALE_PROBE.json")

HEAVY = [
    "q126_record_linkage",
    "q125_column_profile",
    "q121_cluster_size_histogram",
    "q102_neardup_collapse",
    "q136_multiprobe_recall",
    "q116_bpe_tokenize",
    "q113_bloom_decontamination",
    "q100_semantic_dedup",
    "q105_phash_neardup_clusters",
    "q119_ivfpq_topk",
]


def main() -> int:
    names = sys.argv[1:] or HEAVY
    qs = all_queries()
    spark = get_spark("scale_probe")
    try:  # merge with prior probes (partial runs accumulate)
        with open(PROBE_JSON) as f:
            out = json.load(f)
    except (OSError, ValueError):
        out = {}
    for name in names:
        # min_wall starts every pass from an empty cache: without
        # that, queries sharing a persisted subplan (the graph
        # family's kNN build) read the PREVIOUS query's cache via
        # CacheManager plan matching — the r12 sf10 run measured q186
        # at 0.74 s because q160 had just cached the same multiprobe
        # kNN (real cold cost ~10x). Each probe pays its own full plan.
        # The sf1 row count rides the timed write via observe().
        rows = Observation()
        try:
            noop_write(qs[name](spark, SF01))  # warm (codegen + page cache)
            t01 = min_wall(spark, partial(qs[name], spark, SF01), passes=2)
            t1 = min_wall(
                spark,
                lambda: qs[name](spark, SF1).observe(rows, F.count(F.lit(1)).alias("n")),
                passes=1,
            )
            n1 = rows.get["n"]
        except Exception as e:  # missing sf1 table etc.: skip, keep rest
            print(f"{name:34s} ERROR {e}")
            continue
        exp = math.log10(t1 / t01)
        out[name + LABEL] = {
            "sf0.1_s": round(t01, 3),
            "sf1_s": round(t1, 3),
            "sf1_rows": n1,
            "exponent": round(exp, 3),
        }
        print(f"{name:34s} {t01:7.2f}s -> {t1:8.2f}s  exp={exp:+.2f}")
    # merge-on-write: reload the file and overlay this run's keys —
    # two concurrent probe processes each load-modify-write, and the
    # r13 @sf10 run lost six entries to a concurrently-finishing
    # run's stale snapshot. Reloading narrows the race to the dump
    # itself (serial runs are still the rule; this is a backstop).
    try:
        with open(PROBE_JSON) as f:
            merged = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        merged = {}
    merged.update(out)
    out = merged
    with open(PROBE_JSON, "w") as f:
        json.dump(out, f, indent=2)
    print("wrote SCALE_PROBE.json")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
