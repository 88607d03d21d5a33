"""Stage decomposition for q205/q201 (r16 optimization round):
where do 13.7 s (q205) / 7.6 s (q201) at sf0.1 go, when the
embeddings relation is only 2,000 rows — i.e. which stages carry
the fixed overhead. Each leg is forced with a noop sink, min-of-2,
warm session.

Usage: python tools/profile_q205.py [sf_dir]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ulh_etl_spark.cache import release_persisted, track
from ulh_etl_spark.operators import similarity as S
from ulh_etl_spark.queries.similarity import (
    _KNN_AUDIT_Q,
    _KNN_K,
    _KNN_NPROBE,
    _NND_ROUNDS,
    _adaptive_centroids,
)
from ulh_etl_spark.session import get_spark, load_table

if "SPARK_GRAFT_LOCAL_DIR" not in os.environ and os.path.isdir("/dev/shm"):
    os.makedirs("/dev/shm/spark-local", exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = "/dev/shm/spark-local"

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
spark = get_spark("profile-q205")


def t(label, make_df, passes=2):
    best = None
    for _ in range(passes):
        release_persisted()
        spark.catalog.clearCache()
        t0 = time.time()
        make_df().write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    release_persisted()
    spark.catalog.clearCache()
    print(f"{label:42s} {best:7.2f}s")
    return best


emb = load_table(spark, sf_dir, "embeddings")
queries = emb.filter(F.col("vec_id") < _KNN_AUDIT_Q)

# -- brute-force leg alone
t("bf (64q)", lambda: S.cosine_topk(emb, queries, k=_KNN_K))

# -- seed graphs
t("hash_ring seed", lambda: S.hash_ring_seed_graph(emb, k=_KNN_K))
t(
    "two-level knn seed (q201)",
    lambda: S.knn_graph(
        emb, _adaptive_centroids(emb), k=_KNN_K, nprobe=_KNN_NPROBE,
        two_level=True,
    ),
)


# -- seed + r rounds (marginal round cost)
def rounds_df(n):
    def make():
        cur = track(
            S.hash_ring_seed_graph(emb, k=_KNN_K).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        )
        for _ in range(n):
            cur = track(
                S.nn_descent_round(cur, emb, k=_KNN_K).persist(
                    StorageLevel.MEMORY_AND_DISK
                )
            )
        return cur

    return make


for n in (1, 2, 3):
    t(f"seed + {n} rounds", rounds_df(n))

# -- full queries
from ulh_etl_spark.queries.similarity import (  # noqa: E402
    q201_nn_descent_plateau,
    q205_nn_descent_random_init,
)

t("q205 full", lambda: q205_nn_descent_random_init(spark, sf_dir))
t("q201 full", lambda: q201_nn_descent_plateau(spark, sf_dir))
