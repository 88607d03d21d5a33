"""Stage-cardinality decomposition for q206 (VERDICT r15 item #1a):
measure, at sf1 and sf10, the row counts of every stage of
prefix_filter_jaccard_pairs so the +1.12 exponent is attributed to a
measured stage, not guessed at.

Stages counted (mirrors operators/dedup.py prefix_filter_jaccard_pairs
with the same params as q206: n=8, t=0.8, bloom_bits=2048):
  docs            corpus rows
  gram_rows       sum of per-doc distinct gram counts (the explode)
  prefix_rows     rows entering the candidate self-join
  join_rows       raw prefix-join matches (before any pair filter)
  cand_pre_bloom  candidates after prefix+size+positional, distinct
  cand_post_bloom survivors entering the exact verify
  out_pairs       final pairs at J >= 0.8

Usage: python tools/profile_q206.py .scaledata/sf1
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ulh_etl_spark.operators.fanout import fan_out as _fan_out
from ulh_etl_spark.operators.text import char_ngrams, gram_hash64
from ulh_etl_spark.session import get_spark, load_table

if "SPARK_GRAFT_LOCAL_DIR" not in os.environ and os.path.isdir("/dev/shm"):
    os.makedirs("/dev/shm/spark-local", exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = "/dev/shm/spark-local"

N, T, BLOOM_BITS = 8, 0.8, 2048

sf_dir = sys.argv[1]
spark = get_spark("profile-q206")
docs = load_table(spark, sf_dir, "documents")
df = _fan_out(docs)

t0 = time.time()
g = df.select(
    F.col("doc_id"),
    F.array_distinct(
        F.transform(
            F.array_distinct(char_ngrams(F.col("text"), N)),
            lambda s: gram_hash64(s),
        )
    ).alias("_g"),
).withColumn("_ng", F.size("_g")).persist(StorageLevel.MEMORY_AND_DISK)

print("docs:", g.count(), f"({time.time()-t0:.1f}s)")
print("gram_rows:", g.agg(F.sum("_ng")).collect()[0][0])

tok = g.select("doc_id", "_ng", F.explode("_g").alias("_h"))
freq = tok.groupBy("_h").agg(F.count("*").alias("_cnt"))
from pyspark.sql import Window

w = Window.partitionBy("doc_id").orderBy(F.col("_cnt").asc(), F.col("_h").asc())
prefix_len = (
    F.col("_ng")
    - F.ceil(F.lit(T) * F.col("_ng") - F.col("_ng") * F.lit(1e-9)).cast("long")
    + F.lit(1)
)
pref = (
    tok.join(freq, "_h")
    .withColumn("_rk", F.row_number().over(w))
    .filter(F.col("_rk") <= prefix_len)
    .select("doc_id", "_ng", "_h", "_rk")
    .persist(StorageLevel.MEMORY_AND_DISK)
)
t0 = time.time()
print("prefix_rows:", pref.count(), f"({time.time()-t0:.1f}s)")

a = pref.select(
    F.col("doc_id").alias("_ida"), F.col("_ng").alias("_nga"),
    F.col("_rk").alias("_rka"), "_h",
)
b = pref.select(
    F.col("doc_id").alias("_idb"), F.col("_ng").alias("_ngb"),
    F.col("_rk").alias("_rkb"), "_h",
)
raw = a.join(b, "_h").filter(F.col("_ida") < F.col("_idb"))
t0 = time.time()
print("join_rows:", raw.count(), f"({time.time()-t0:.1f}s)")

ssum = F.col("_nga") + F.col("_ngb")
alpha = F.ceil(F.lit(T / (1.0 + T)) * ssum - ssum * F.lit(1e-9))
cand = (
    raw.filter(
        (F.col("_ngb") >= F.ceil(F.lit(T) * F.col("_nga") - F.col("_nga") * F.lit(1e-9)))
        & (F.col("_ngb") <= F.floor(F.col("_nga") / F.lit(T) + F.col("_nga") * F.lit(1e-9)))
        & (F.least(F.col("_nga") - F.col("_rka"), F.col("_ngb") - F.col("_rkb")) + F.lit(1) >= alpha)
    )
    .select(F.col("_ida").alias("id1"), F.col("_idb").alias("id2"), "_nga", "_ngb")
    .distinct()
    .persist(StorageLevel.MEMORY_AND_DISK)
)
t0 = time.time()
print("cand_pre_bloom:", cand.count(), f"({time.time()-t0:.1f}s)")

nwords = (BLOOM_BITS + 63) // 64
blooms = (
    tok.select(
        "doc_id",
        F.pmod(F.col("_h"), F.lit(BLOOM_BITS)).cast("int").alias("_i"),
    )
    .select(
        "doc_id",
        F.shiftright(F.col("_i"), 6).alias("_w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), _i & 63)").alias("_m"),
    )
    .groupBy("doc_id", "_w")
    .agg(F.expr("bit_or(_m)").alias("_wv"))
    .groupBy("doc_id")
    .agg(F.map_from_entries(F.collect_list(F.struct("_w", "_wv"))).alias("_bm"))
    .select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(nwords - 1)),
            lambda i: F.coalesce(F.try_element_at("_bm", i), F.lit(0).cast("long")),
        ).alias("_bl"),
    )
)


def _diff_lb(aa, bb):
    return F.aggregate(
        F.zip_with(
            aa, bb,
            lambda x, y: F.bit_count(x.bitwiseAND(y.bitwiseXOR(F.lit(-1).cast("long")))),
        ),
        F.lit(0),
        lambda acc, c: acc + c,
    )


ssum2 = F.col("_nga") + F.col("_ngb")
alpha2 = F.ceil(F.lit(T / (1.0 + T)) * ssum2 - ssum2 * F.lit(1e-9))
surv = (
    cand.join(blooms.select(F.col("doc_id").alias("id1"), F.col("_bl").alias("_b1")), "id1")
    .join(blooms.select(F.col("doc_id").alias("id2"), F.col("_bl").alias("_b2")), "id2")
    .filter(
        F.least(
            F.col("_nga") - _diff_lb("_b1", "_b2"),
            F.col("_ngb") - _diff_lb("_b2", "_b1"),
        )
        >= alpha2
    )
    .select("id1", "id2")
    .persist(StorageLevel.MEMORY_AND_DISK)
)
t0 = time.time()
print("cand_post_bloom:", surv.count(), f"({time.time()-t0:.1f}s)")

g1 = g.select(F.col("doc_id").alias("id1"), F.col("_g").alias("_g1"))
g2 = g.select(F.col("doc_id").alias("id2"), F.col("_g").alias("_g2"))
ver = (
    surv.join(g1, "id1").join(g2, "id2")
    .select(
        "id1", "id2",
        F.size(F.array_intersect("_g1", "_g2")).alias("_i"),
        F.size("_g1").alias("_la"), F.size("_g2").alias("_lb"),
    )
)
jac = F.round(
    F.col("_i").cast("double") / (F.col("_la") + F.col("_lb") - F.col("_i")).cast("double"), 6
)
t0 = time.time()
print("out_pairs:", ver.filter(jac >= T).count(), f"({time.time()-t0:.1f}s)")
avg_ng = g.agg(F.avg("_ng")).collect()[0][0]
print(f"avg grams/doc: {avg_ng:.1f}")
