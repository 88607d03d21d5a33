"""Training-data export: sharded corpus write + integrity manifest.

The last stage of a curation pipeline hands the corpus to a training
reader as S shard directories plus a MANIFEST the loader (and any
resume/verify tooling) trusts: per shard, the doc count, token total,
window count at the training context length, and an order-sensitive
digest of the doc-id sequence. The digest makes silent corruption or
a partial rewrite detectable with one cheap aggregate — no full-data
diff.

Scale shape: the shard assignment is pack_sequences' salted-md5
sharding (stable, joinable); the write is one exchange
(partitionBy(shard)); the manifest is one partial-agged groupBy over
slim columns (the collect_list per shard holds ids only — the same
per-shard order a single-threaded writer would hold in memory).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ulh_etl_spark.operators.text import pack_sequences

# The corpus columns the export reads and the manifest digests.
TEXT_COL = "text"
ID_COL = "doc_id"


def _ids_digest() -> Column:
    """md5 over the ','-joined doc ids in shard order (start_offset
    ascending) — order-sensitive, so a reordered or partial shard
    changes the digest."""
    return F.md5(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("start_offset").alias("o"),
                            F.col(ID_COL).cast("string").alias("i"),
                        )
                    )
                ),
                lambda s: s["i"],
            ),
            ",",
        )
    )


def export_training_shards(
    df: DataFrame,
    path: str,
    ctx_len: int = 512,
    n_shards: int | None = None,
) -> DataFrame:
    """Write the corpus (columns ``doc_id``, ``text``) as
    ``path/data/shard=S/`` parquet (id, text, n_tokens, start_offset,
    pack_idx — reader-ordered by start_offset) plus
    ``path/manifest/`` with one row per shard
    (n_docs, n_tokens, n_windows, ids_digest). Returns the manifest
    DataFrame (already written)."""
    packed = pack_sequences(
        df, TEXT_COL, ID_COL, ctx_len=ctx_len, n_shards=n_shards
    )
    data = packed.join(df.select(ID_COL, TEXT_COL), ID_COL)
    (
        data.repartition("shard")
        .sortWithinPartitions("start_offset")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(f"{path}/data")
    )
    manifest = packed.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        _ids_digest().alias("ids_digest"),
        F.ceil(F.sum("n_tokens") / ctx_len).cast("long").alias("n_windows"),
    )
    manifest.write.mode("overwrite").parquet(f"{path}/manifest")
    return manifest


def verify_training_shards(spark: SparkSession, path: str) -> DataFrame:
    """Recompute counts/tokens/digest from the written data and
    compare against the manifest: one row per shard with ``ok`` =
    everything matches (full outer join, so a missing or extra shard
    directory also surfaces as not-ok). The check a resume step runs
    before trusting an export."""
    data = spark.read.parquet(f"{path}/data")
    recomputed = data.groupBy("shard").agg(
        F.count("*").alias("r_docs"),
        F.sum("n_tokens").alias("r_tokens"),
        _ids_digest().alias("r_digest"),
    )
    manifest = spark.read.parquet(f"{path}/manifest")
    return manifest.join(recomputed, "shard", "full").select(
        "shard",
        "n_docs",
        "r_docs",
        "ids_digest",
        "r_digest",
        # coalesce(False): a shard present on only one side of the full
        # outer join leaves the other side's columns NULL, and
        # NULL & ... is NULL — which filter(~ok) would silently drop.
        F.coalesce(
            (F.col("n_docs") == F.col("r_docs"))
            & (F.col("n_tokens") == F.col("r_tokens"))
            & (F.col("ids_digest") == F.col("r_digest")),
            F.lit(False),
        ).alias("ok"),
    )
