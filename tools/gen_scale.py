"""Generate a local sf1-scale dataset for scale-exponent probing.

Replicates the driver's sf0.1 tables 10x with per-replica
perturbation so WORKLOAD SHAPE scales linearly instead of
degenerately: ids are offset per replica, document words get a
per-replica suffix (every shingle/gram/fingerprint differs across
replicas — near-dup family sizes stay sf0.1-like instead of every
doc gaining 9 planted twins), embeddings get a small deterministic
per-replica shift (cell occupancy scales, geometry is preserved),
and customer names are re-derived from the offset key (fresh
near-identical name families per replica). Only the tables the
heavy-tail probe reads are generated.

Output lives under the repo root (the source testdata is read-only):
.scaledata/sf1 — gitignored, regenerable.

Usage: python tools/gen_scale.py [factor] [out_name] [tables]
e.g. `python tools/gen_scale.py 100 sf10` builds the 100x set at
.scaledata/sf10 for the second-decade (sf1 -> sf10) probes;
`python tools/gen_scale.py 10 sf1 orders` (re)builds only the
orders table of an existing set.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from ulh_etl_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
OUT = os.path.join(ROOT, ".scaledata", "sf1")
OFFSET = 1_000_000_000


def replicate(df, factor: int, transforms):
    """Union ``factor`` perturbed copies. ``transforms(df, r)``
    returns replica r's frame (r=0 must be the identity)."""
    out = None
    for r in range(factor):
        rep = transforms(df, r)
        out = rep if out is None else out.unionByName(rep)
    return out


def main() -> None:
    global OUT
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    if len(sys.argv) > 2:
        OUT = os.path.join(ROOT, ".scaledata", sys.argv[2])
    spark = get_spark("gen_scale")
    os.makedirs(OUT, exist_ok=True)

    def read(t):
        return spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))

    def write(df, t, parts):
        # one flat parquet file-set per table, same layout the loader
        # expects (table_path points at <dir>/<t>.parquet)
        df.repartition(parts).write.mode("overwrite").parquet(
            os.path.join(OUT, f"{t}.parquet")
        )
        print(f"{t}: {df.count()} rows")

    def docs_rep(df, r):
        if r == 0:
            return df
        return df.select(
            (F.col("doc_id") + F.lit(r * OFFSET)).alias("doc_id"),
            # suffix every word: all shingles/grams/fingerprints
            # differ across replicas, corpus statistics keep shape
            F.regexp_replace("text", r"(\S+)", f"$1x{r}").alias("text"),
            "lang",
            "source",
            "n_chars",
        )

    def emb_rep(df, r):
        if r == 0:
            return df
        shift = F.lit(0.0013 * r)
        return df.select(
            (F.col("vec_id") + F.lit(r * OFFSET)).alias("vec_id"),
            F.transform(
                "embedding", lambda x, i: (x + shift * (i % 7)).cast("float")
            ).alias("embedding"),
            "label",
        )

    def cust_rep(df, r):
        if r == 0:
            return df
        key = F.col("c_custkey") + F.lit(r * OFFSET)
        return df.select(
            key.alias("c_custkey"),
            F.format_string("Customer#%018d", key).alias("c_name"),
            "c_nationkey",
            "c_acctbal",
            "c_mktsegment",
        )

    def li_rep(df, r):
        if r == 0:
            return df
        return df.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(r * OFFSET)
        )

    def ev_rep(df, r):
        if r == 0:
            return df
        return df.withColumn(
            "event_id", F.col("event_id") + F.lit(r * OFFSET)
        ).withColumn("user_id", F.col("user_id") + F.lit(r * OFFSET))

    def ord_rep(df, r):
        # keys offset in lockstep with customer (o_custkey) and
        # lineitem (l_orderkey == o_orderkey), so per-replica join
        # degree structure is preserved: each replica is a closed
        # order/customer/lineitem world
        if r == 0:
            return df
        return df.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(r * OFFSET)
        ).withColumn("o_custkey", F.col("o_custkey") + F.lit(r * OFFSET))

    jobs = {
        "events": (lambda: replicate(read("events"), factor, ev_rep), 32),
        "documents": (
            lambda: replicate(read("documents"), factor, docs_rep), 32),
        "embeddings": (
            lambda: replicate(read("embeddings"), factor, emb_rep), 16),
        "customer": (
            lambda: replicate(read("customer"), factor, cust_rep), 16),
        "lineitem": (
            lambda: replicate(read("lineitem"), factor, li_rep), 32),
        "orders": (lambda: replicate(read("orders"), factor, ord_rep), 16),
    }
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    if only:
        # fail loudly on typo'd names (r15 ADVICE): an unknown entry
        # used to intersect to nothing, write nothing, and still
        # print the success line
        unknown = sorted(only - set(jobs))
        if unknown:
            raise SystemExit(
                f"unknown table(s) {unknown}; valid: {sorted(jobs)}"
            )
    for t, (build, parts) in jobs.items():
        if only and t not in only:
            continue
        write(build(), t, parts)
    print(f"wrote {OUT} at {factor}x sf0.1")


if __name__ == "__main__":
    main()
